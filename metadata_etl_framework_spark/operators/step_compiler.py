"""Config-dict → DataFrame-plan compiler (the transform engine).

Parity target: ``TransformEngine`` (reference:
src/transform/transform_engine.py:49-303) — the step-type dispatcher that
defines the framework's canonical vocabulary:

    filter, map, typeconversion, join, aggregate, pivot, window,
    customudf, sqltransform  (+ union, added per SURVEY §2.7 for SCD2)

Architectural difference from the reference (deliberate): the reference
executes each step EAGERLY on a materialized single-node frame. Here every
step returns a LAZY DataFrame, so an entire step list compiles into one
Catalyst plan — filters merge and push into the scan, projections prune
the read schema, joins get planned with runtime statistics (AQE). Row
accounting, which the reference got for free from eager frames, is done
with ``df.observe()`` metrics so it costs nothing extra at the terminal
action (SURVEY §7.3).
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field
from typing import Any, Callable, ClassVar

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from metadata_etl_framework_spark.functions import (
    aggregations as agg_lib,
    conversions as conv_lib,
    filters as filt_lib,
    joins as join_lib,
    projections as proj_lib,
    windows as win_lib,
)

logger = logging.getLogger(__name__)


@dataclass
class StepMetrics:
    """Per-step accounting recorded into the run log (TRANSFORM_LOG parity)."""

    step_name: str
    step_type: str
    duration_sec: float = 0.0
    observation: Observation | None = None

    def rows_out(self) -> int | None:
        """Rows produced by this step; available after a terminal action."""
        if self.observation is None:
            return None
        try:
            return self.observation.get.get("rows_out")
        except Exception:
            return None


@dataclass
class TransformEngine:
    """Executes a transformation config (list of steps) over named sources.

    ``sources`` is the reference's ``{source_id: DataFrame}`` multi-source
    binding (transform_engine.py:57-58). ``observe_rows=True`` attaches an
    ``Observation`` per step for rows_out accounting without extra jobs.
    ``allow_custom_udf`` gates the (dangerous) exec-based customudf step,
    mirroring the reference's own "unsafe" warning (transform_engine.py:266).
    """

    spark: SparkSession
    observe_rows: bool = False
    allow_custom_udf: bool = False
    metrics: list[StepMetrics] = field(default_factory=list)

    # ------------------------------------------------------------------ api

    def execute_transformations(
        self,
        sources: dict[str, DataFrame],
        transform_config: dict[str, Any],
        primary: str | None = None,
    ) -> DataFrame:
        """Run the step list; returns the final (lazy) DataFrame.

        ``primary`` names the source the chain starts from (defaults to the
        config's ``primary_source`` or the first source).
        """
        sources = dict(sources)
        primary = primary or transform_config.get("primary_source") or next(iter(sources))
        data = sources[primary]
        for i, step in enumerate(transform_config.get("steps", [])):
            t0 = time.monotonic()
            data = self.apply_transform_step(data, step, sources)
            m = StepMetrics(
                step_name=step.get("name", f"step_{i}"),
                step_type=step.get("type", "?"),
                duration_sec=time.monotonic() - t0,
            )
            if self.observe_rows:
                obs = Observation(f"{m.step_name}_{i}")
                data = data.observe(obs, F.count(F.lit(1)).alias("rows_out"))
                m.observation = obs
            self.metrics.append(m)
            # keep the evolving frame addressable by later join/sql steps
            sources[primary] = data
        return data

    def explain_transformations(
        self,
        sources: dict[str, DataFrame],
        transform_config: dict[str, Any],
        primary: str | None = None,
        fail_on_cartesian: bool = False,
    ) -> list[dict[str, Any]]:
        """DRY-RUN: compile the step chain and audit each step's
        cumulative PHYSICAL plan without executing anything — the CI
        gate for config changes. A step edit that introduces a
        cartesian join, drops a pushed filter, or silently switches a
        broadcast join to sort-merge shows up here before any data
        moves.

        Per step: {step, type, exchanges, broadcast_hash_joins,
        sort_merge_joins, cartesian, pushed_filters, takeordered}
        (utils/plan_audit.audit_plan — the same audit PLANS.md and the
        ``assert_scale_safe`` CI helper use). ``fail_on_cartesian``
        raises on the first step whose plan contains a cartesian /
        broadcast-nested-loop join. Driver-side plan analysis only; no
        job runs (eager steps like drift suites run in the REAL
        pipeline, but their plans here are still compiled lazily where
        the step supports it).
        """
        from metadata_etl_framework_spark.utils.plan_audit import audit_plan

        sources = dict(sources)
        primary = (
            primary
            or transform_config.get("primary_source")
            or next(iter(sources))
        )
        data = sources[primary]
        out: list[dict[str, Any]] = []
        for i, step in enumerate(transform_config.get("steps", [])):
            data = self.apply_transform_step(data, step, sources)
            row = {
                "step": step.get("name", f"step_{i}"),
                "type": str(step.get("type", "?")).lower(),
                **audit_plan(data),
            }
            if fail_on_cartesian and row.get("cartesian"):
                raise ValueError(
                    f"step {row['step']!r} ({row['type']}) plans a "
                    f"cartesian/broadcast-nested-loop join"
                )
            out.append(row)
            sources[primary] = data
        return out

    # ------------------------------------------------------------ dispatch

    def apply_transform_step(
        self, data: DataFrame, step: dict[str, Any], sources: dict[str, DataFrame]
    ) -> DataFrame:
        step_type = str(step.get("type", "")).lower()
        handler = self._HANDLERS.get(step_type)
        if handler is None:
            raise NotImplementedError(f"unsupported step type: {step_type!r}")
        return handler(self, data, step, sources)

    # ------------------------------------------------------------- steps

    def _filter(self, data, step, sources) -> DataFrame:
        cfg = step.get("config", step)
        if "condition" in cfg:  # string SQL condition (transform_engine.py:121-136)
            return filt_lib.filter_expr(data, cfg["condition"])
        if "conditions" in cfg:
            return filt_lib.filter_by_multiple_conditions(data, cfg["conditions"])
        return filt_lib.filter_by_condition(
            data, cfg["column"], cfg.get("operator", "=="), cfg["value"]
        )

    def _map(self, data, step, sources) -> DataFrame:
        cfg = step.get("config", step)
        out = data
        # derived columns first: {"derive": {"new_col": "sql expression"}}
        for name, expr in (cfg.get("derive") or {}).items():
            out = out.withColumn(name, F.expr(expr))
        if cfg.get("rename"):
            out = proj_lib.rename_columns(out, cfg["rename"])
        if cfg.get("drop"):
            out = proj_lib.drop_columns(out, cfg["drop"])
        if cfg.get("reorder"):
            out = proj_lib.reorder_columns(out, cfg["reorder"])
        return out

    def _typeconversion(self, data, step, sources) -> DataFrame:
        cfg = step.get("config", step)
        mapping = cfg.get("conversions") or cfg.get("types") or {}
        return conv_lib.convert_types(data, mapping)

    def _join(self, data, step, sources) -> DataFrame:
        cfg = step.get("config", step)
        right_name = cfg.get("right_source") or cfg.get("right")
        if right_name not in sources:
            raise KeyError(f"join right source {right_name!r} not in sources")
        return join_lib.join_data(
            data,
            sources[right_name],
            how=cfg.get("how", "inner"),
            left_on=cfg.get("left_on"),
            right_on=cfg.get("right_on"),
            on=cfg.get("on"),
            broadcast=bool(cfg.get("broadcast", False)),
        )

    def _aggregate(self, data, step, sources) -> DataFrame:
        cfg = step.get("config", step)
        mode = cfg.get("mode", "groupby")
        if mode in ("rollup", "cube"):
            # OLAP subtotal levels in ONE Expand+aggregate (see
            # functions/aggregations.py::grouping_sets_aggregate)
            return agg_lib.grouping_sets_aggregate(
                data,
                cfg.get("group_by", []),
                cfg.get("aggregations", {}),
                mode=mode,
            )
        if mode != "groupby":
            raise ValueError(
                f"unknown aggregate mode {mode!r}; expected one of"
                " ['cube', 'groupby', 'rollup']"
            )
        return agg_lib.groupby_aggregate(
            data, cfg.get("group_by", []), cfg.get("aggregations", {})
        )

    def _pivot(self, data, step, sources) -> DataFrame:
        cfg = step.get("config", step)
        return agg_lib.pivot_table(
            data,
            cfg["index"],
            cfg["columns"],
            cfg["values"],
            aggfunc=cfg.get("aggfunc", "first"),
            pivot_values=cfg.get("pivot_values"),
        )

    def _window(self, data, step, sources) -> DataFrame:
        cfg = step.get("config", step)
        fn = str(cfg.get("function", "rank")).lower()
        if fn in ("rank", "dense_rank", "row_number", "percent_rank",
                  "cume_dist", "ntile", "average", "avg_rank"):
            return win_lib.rank_within_group(
                data,
                cfg.get("partition_by", []),
                cfg["order_by"],
                output_col=cfg.get("output_col", "rank"),
                method=fn,
                ascending=bool(cfg.get("ascending", True)),
                ntile_n=int(cfg.get("ntile_n", 4)),
            )
        if fn in ("lag", "lead"):
            offset = int(cfg.get("offset", 1))
            return win_lib.lag_lead(
                data,
                cfg["column"],
                offset if fn == "lag" else -offset,
                cfg.get("partition_by", []),
                cfg["order_by"],
                output_col=cfg.get("output_col"),
            )
        if fn in ("running_total", "cumsum"):
            return win_lib.running_total(
                data,
                cfg["column"],
                cfg.get("partition_by", []),
                cfg["order_by"],
                output_col=cfg.get("output_col"),
            )
        if fn in ("rolling_mean", "rolling_sum", "rolling_std", "rolling"):
            return win_lib.rolling_aggregate(
                data,
                cfg["column"],
                int(cfg["window_size"]),
                fn=cfg.get("agg", fn.replace("rolling_", "") if "_" in fn else "mean"),
                partition_by=cfg.get("partition_by"),
                order_by=cfg["order_by"],
                output_col=cfg.get("output_col"),
            )
        raise NotImplementedError(f"unsupported window function {fn!r}")

    def _customudf(self, data, step, sources) -> DataFrame:
        # Reference runs arbitrary code via exec (transform_engine.py:262-278)
        # and documents it as unsafe; reproduced behind an explicit opt-in.
        if not self.allow_custom_udf:
            raise PermissionError(
                "customudf steps are disabled; construct TransformEngine with "
                "allow_custom_udf=True to opt in"
            )
        cfg = step.get("config", step)
        scope: dict[str, Any] = {"df": data, "F": F, "spark": self.spark, "result": None}
        exec(cfg["udf_code"], scope)  # noqa: S102 — explicit opt-in, parity feature
        result = scope.get("result")
        if not isinstance(result, DataFrame):
            raise ValueError("customudf code must assign a DataFrame to `result`")
        return result

    def _sqltransform(self, data, step, sources) -> DataFrame:
        # Reference registers every source in DuckDB and runs SQL
        # (transform_engine.py:280-303); here temp views + spark.sql give
        # the same capability with Catalyst planning the whole query.
        cfg = step.get("config", step)
        for name, df in sources.items():
            df.createOrReplaceTempView(name)
        return self.spark.sql(cfg["query"])

    def _union(self, data, step, sources) -> DataFrame:
        cfg = step.get("config", step)
        out = data
        for name in cfg.get("with", []):
            out = out.unionByName(sources[name], allowMissingColumns=bool(cfg.get("allow_missing_columns", False)))
        if cfg.get("distinct"):
            out = out.dropDuplicates()
        return out

    def _unpivot(self, data, step, sources) -> DataFrame:
        """unpivot/melt step — the inverse of pivot (wide → long)."""
        cfg = step.get("config", step)
        return proj_lib.melt(
            data,
            cfg["ids"],
            cfg["values"],
            var_name=cfg.get("var_name", "variable"),
            value_name=cfg.get("value_name", "value"),
        )

    def _dedup(self, data, step, sources) -> DataFrame:
        """Corpus dedup as a config step. methods: exact (keep the
        canonical doc per md5 fingerprint) or near (drop every
        non-canonical member of a near-dup cluster — minhash pairs
        closed into connected components)."""
        from metadata_etl_framework_spark.ops import dedup as dedup_lib
        from metadata_etl_framework_spark.ops.text import fingerprint

        cfg = step.get("config", step)
        method = cfg.get("method", "exact")
        id_col = cfg.get("id_column", "doc_id")
        text_col = cfg.get("text_column", "text")
        if method == "exact":
            fp = fingerprint(data, text_col)
            w = Window.partitionBy("fingerprint").orderBy(id_col)
            return (
                fp.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "fingerprint")
            )
        if method == "near":
            losers = dedup_lib.near_duplicate_clusters(
                data, id_col, text_col,
                threshold=float(cfg.get("threshold", 0.8)),
                num_hashes=int(cfg.get("num_hashes", 64)),
                num_bands=int(cfg.get("num_bands", 16)),
            ).filter(~F.col("is_canonical")).select(F.col("node").alias(id_col))
            return data.join(losers, id_col, "left_anti")
        raise ValueError(f"unknown dedup method: {method!r}")

    def _quality_filter(self, data, step, sources) -> DataFrame:
        """Composite-quality threshold filter as a config step: drop
        documents scoring below min_score, and rows with a NULL id. The
        score (ops/text.py::quality_score_column) is computed in place,
        one projection + filter, so the upstream chain runs once;
        keep_score retains it for downstream ordering."""
        from metadata_etl_framework_spark.ops.text import quality_score_column

        cfg = step.get("config", step)
        id_col = cfg.get("id_column", "doc_id")
        score = quality_score_column(
            cfg.get("text_column", "text"),
            target_tokens=int(cfg.get("target_tokens", 200)),
        )
        out = data.withColumn("quality_score", score).filter(
            F.col(id_col).isNotNull()
            & (F.col("quality_score") >= float(cfg.get("min_score", 0.5)))
        )
        if not cfg.get("keep_score", False):
            out = out.drop("quality_score")
        return out

    def _sample(self, data, step, sources) -> DataFrame:
        """Deterministic sampling as a config step. modes: fraction
        (md5-uniform keep, reproducible & incremental) or weighted_k
        (Efraimidis-Spirakis PPS without replacement, k rows)."""
        from metadata_etl_framework_spark.ops.corpus import (
            md5_uniform,
            weighted_sample,
        )

        cfg = step.get("config", step)
        mode = cfg.get("mode", "fraction")
        id_col = cfg.get("id_column", "doc_id")
        salt = str(cfg.get("salt", ""))
        if mode == "fraction":
            frac = float(cfg["fraction"])
            if not (0.0 < frac <= 1.0):
                raise ValueError("fraction must be in (0, 1]")
            u = md5_uniform(F.col(id_col), salt=salt)
            return data.filter(u < F.lit(frac))
        if mode == "weighted_k":
            return weighted_sample(
                data,
                k=int(cfg["k"]),
                weight_col=cfg["weight_column"],
                hash_cols=cfg.get("hash_columns", [id_col]),
                salt=salt,
            ).drop("priority")
        raise ValueError(f"unknown sample mode: {mode!r}")

    def _split(self, data, step, sources) -> DataFrame:
        """Leakage-safe train/val/test assignment as a config step
        (ops/corpus.py::leakage_safe_split); optional dedup_clusters
        source keeps near-duplicates on one side of the boundary."""
        from metadata_etl_framework_spark.ops.corpus import leakage_safe_split

        cfg = step.get("config", step)
        clusters = None
        if cfg.get("clusters_source"):
            clusters = sources[cfg["clusters_source"]]
        return leakage_safe_split(
            data,
            cfg["fractions"],
            id_col=cfg.get("id_column", "doc_id"),
            clusters=clusters,
            salt=str(cfg.get("salt", "")),
        )

    def _filter_funnel(self, data, step, sources) -> DataFrame:
        """Ordered curation filter chain as a config step
        (ops/curation.py). Stages are [{name, condition}] with SQL-string
        conditions (the metadata-driven form). mode: 'apply' (default)
        returns survivors of the whole chain; 'stats' returns the
        one-pass per-stage retention funnel instead."""
        from metadata_etl_framework_spark.ops.curation import (
            apply_funnel,
            funnel_stats,
        )

        cfg = step.get("config", step)
        raw = cfg.get("stages") or []
        if not raw:
            raise ValueError("filter_funnel step needs a non-empty 'stages' list")
        stages = [(s["name"], s["condition"]) for s in raw]
        if cfg.get("mode", "apply") == "stats":
            return funnel_stats(data, stages)
        return apply_funnel(data, stages)

    def _drift(self, data, step, sources) -> DataFrame:
        """Snapshot drift as a config step (quality/drift.py): the
        reference frame comes from the source dict (``reference``
        key), numeric/categorical column lists select the statistics;
        returns the tall (column, metric, value) dashboard."""
        from metadata_etl_framework_spark.quality.drift import drift_suite

        cfg = step.get("config", step)
        ref_name = cfg.get("reference")
        if not ref_name or ref_name not in (sources or {}):
            raise ValueError(
                "drift step needs config.reference naming a source frame"
            )
        emb_col = cfg.get("embedding_column")
        num = list(cfg.get("numeric_columns", []))
        cat = list(cfg.get("categorical_columns", []))
        out = None
        if num or cat:
            # release=False: a pipeline step's result flows into
            # FURTHER steps/sinks, so keep the lazy plan (with its
            # column lineage) rather than the library default's eager
            # cache release, which exists for long-lived standalone
            # monitoring sessions
            out = drift_suite(
                sources[ref_name],
                data,
                numeric_cols=num,
                categorical_cols=cat,
                n_bins=int(cfg.get("n_bins", 10)),
                release=False,
            )
        if emb_col:
            from pyspark.sql import functions as F

            from metadata_etl_framework_spark.quality.drift import (
                embedding_drift,
            )

            emb = embedding_drift(
                sources[ref_name],
                data,
                id_col=cfg.get("id_column", "vec_id"),
                vec_col=emb_col,
                n_bins=int(cfg.get("n_bins", 10)),
            ).select(
                F.lit(emb_col).alias("column"), "metric", "value"
            )
            out = emb if out is None else out.unionByName(emb)
        if out is None:
            raise ValueError(
                "drift step needs numeric_columns, categorical_columns"
                " or embedding_column"
            )
        return out

    def _score_eval(self, data, step, sources) -> DataFrame:
        """Score-audit as a config step (ops/evaluation.py): lets a
        curation pipeline gate on classifier quality the way it gates
        on drift. mode 'suite' (default) returns the tall
        (metric, value) frame — AUC / PR-AUC / ECE per config.metrics —
        for SLA-style ceilings; mode 'thresholds' returns the full
        operating-point table (precision/recall/F1 per distinct
        score) for threshold selection; mode 'multiclass' the per-class
        classification_report table (config.prediction_column vs
        label), mode 'multiclass_summary' its 1-row
        accuracy/macro-F1/kappa roll-up, and mode 'regression' the
        MAE/RMSE/MAPE/R² scorecard (score_column = prediction,
        label_column = target)."""
        from metadata_etl_framework_spark.ops.evaluation import (
            multiclass_metrics,
            multiclass_summary,
            regression_metrics,
            score_eval_suite,
            threshold_sweep,
        )

        cfg = step.get("config", step)
        score = cfg.get("score_column")
        label = cfg.get("label_column")
        mode = cfg.get("mode", "suite")
        allowed_modes = {
            "suite", "thresholds", "multiclass", "multiclass_summary",
            "regression", "bleu", "rouge", "chrf", "qini", "conformal",
        }
        if mode not in allowed_modes:
            # a typo'd mode must not silently fall back to 'suite'
            raise ValueError(
                f"unknown score_eval mode {mode!r}; "
                f"expected one of {sorted(allowed_modes)}"
            )
        if mode == "qini":
            from metadata_etl_framework_spark.ops.evaluation import (
                qini_coefficient,
                qini_table,
            )

            idc = cfg.get("id_column")
            tc = cfg.get("treatment_column")
            oc = cfg.get("outcome_column")
            if not score or not idc or not tc or not oc:
                raise ValueError(
                    "score_eval qini mode needs config.score_column,"
                    " config.treatment_column, config.outcome_column"
                    " and config.id_column"
                )
            tab = qini_table(
                data, score, tc, oc, idc,
                n_buckets=int(cfg.get("n_buckets", 10)),
            )
            return qini_coefficient(tab) if cfg.get("summary") else tab
        if mode in ("bleu", "rouge", "chrf"):
            from metadata_etl_framework_spark.ops.evaluation import (
                bleu_corpus,
                chrf_score,
                rouge_n,
                rouge_summary,
            )

            idc = cfg.get("id_column")
            cand = cfg.get("candidate_column")
            ref = cfg.get("reference_column")
            if not idc or not cand or not ref:
                raise ValueError(
                    "score_eval generation modes need config.id_column,"
                    " config.candidate_column and config.reference_column"
                )
            if mode == "bleu":
                return bleu_corpus(
                    data, idc, cand, ref, max_n=int(cfg.get("max_n", 4))
                )
            if mode == "chrf":
                return chrf_score(
                    data, idc, cand, ref,
                    max_n=int(cfg.get("max_n", 6)),
                    beta=float(cfg.get("beta", 2.0)),
                )
            per = rouge_n(data, idc, cand, ref, n=int(cfg.get("n", 2)))
            return (
                rouge_summary(per) if cfg.get("summary", True) else per
            )
        if mode in ("multiclass", "multiclass_summary"):
            pred = cfg.get("prediction_column") or score
            if not pred or not label:
                raise ValueError(
                    "score_eval multiclass modes need "
                    "config.prediction_column and config.label_column"
                )
            fn = (
                multiclass_metrics
                if mode == "multiclass"
                else multiclass_summary
            )
            return fn(data, label, pred)
        if mode == "conformal":
            from metadata_etl_framework_spark.ops.evaluation import (
                conformal_coverage,
            )

            idc = cfg.get("id_column")
            if not score or not label or not idc:
                raise ValueError(
                    "score_eval conformal mode needs "
                    "config.score_column (the prediction), "
                    "config.label_column (the actual) and "
                    "config.id_column (the deterministic split key)"
                )
            return conformal_coverage(
                data, label, score, idc,
                alpha=float(cfg.get("alpha", 0.1)),
            )
        if not score or not label:
            raise ValueError(
                "score_eval step needs config.score_column and "
                "config.label_column"
            )
        if mode == "regression":
            return regression_metrics(data, score, label)
        if mode == "thresholds":
            return threshold_sweep(data, score, label)
        # release=False: a pipeline step's result flows into further
        # steps/sinks and Catalyst column lineage, so keep the lazy
        # plan (the drift-step convention) rather than the library
        # default's eager 1-row materialization
        return score_eval_suite(
            data,
            score,
            label,
            metrics=tuple(cfg.get("metrics", ("auc", "pr_auc", "ece"))),
            n_bins=int(cfg.get("n_bins", 10)),
            lo=float(cfg.get("lo", 0.0)),
            hi=float(cfg.get("hi", 1.0)),
            release=False,
        )

    def _experiment_eval(self, data, step, sources) -> DataFrame:
        """A/B experiment readouts as a config step, so a pipeline can
        gate a rollout the way it gates on drift. mode 'proportions'
        (default) = the two-proportion z readout
        (ops/retention.py::ab_test_proportions); 'cuped' = the
        covariate-adjusted effect (ops/stats.py::cuped_adjusted_effect
        — needs metric_column + covariate_column); 'power' = post-hoc
        power / required-n (ops/stats.py::ab_power); 'logrank' = the
        censoring-correct two-group churn test
        (ops/retention.py::logrank_test — needs ts_column)."""
        cfg = step.get("config", step)
        mode = str(cfg.get("mode", "proportions")).lower()
        variant = cfg.get("variant_column")
        unit = cfg.get("unit_column")
        if not variant or not unit:
            raise ValueError(
                "experiment_eval needs config.variant_column and "
                "config.unit_column"
            )
        if mode == "proportions":
            from metadata_etl_framework_spark.ops.retention import (
                ab_test_proportions,
            )

            conv = cfg.get("converted_column")
            if not conv:
                raise ValueError(
                    "experiment_eval proportions mode needs "
                    "config.converted_column"
                )
            return ab_test_proportions(data, variant, conv, unit)
        if mode == "cuped":
            from metadata_etl_framework_spark.ops.stats import (
                cuped_adjusted_effect,
            )

            metric = cfg.get("metric_column")
            cov = cfg.get("covariate_column")
            if not metric or not cov:
                raise ValueError(
                    "experiment_eval cuped mode needs "
                    "config.metric_column and config.covariate_column"
                )
            return cuped_adjusted_effect(data, variant, metric, cov, unit)
        if mode == "power":
            from metadata_etl_framework_spark.ops.stats import ab_power

            conv = cfg.get("converted_column")
            if not conv:
                raise ValueError(
                    "experiment_eval power mode needs "
                    "config.converted_column"
                )
            return ab_power(data, variant, conv, unit)
        if mode == "logrank":
            from metadata_etl_framework_spark.ops.retention import (
                logrank_test,
            )

            return logrank_test(
                data, variant, unit,
                cfg.get("ts_column", "ts"),
                horizon_days=int(cfg.get("horizon_days", 7)),
            )
        raise ValueError(
            f"unknown experiment_eval mode {mode!r}; expected one of"
            " ['proportions', 'cuped', 'power', 'logrank']"
        )

    def _model_train(self, data, step, sources) -> DataFrame:
        """In-engine model training as a config step (round 12), so a
        pipeline can produce a MODEL TABLE the way it produces any
        other frame — no ML runtime, engine-replayable arithmetic.
        mode 'naive_bayes' (default) = multinomial NB over tokenized
        text (ops/classify.py::nb_train — needs text_column +
        label_column; optional smoothing, min_count); 'logistic' =
        IRLS logistic regression (ops/glm.py::logistic_train — needs
        feature_columns + label_column; optional iterations, ridge);
        'linear' = closed-form ridge/OLS (ops/glm.py::linear_train —
        same config, no iterations)."""
        cfg = step.get("config", step)
        mode = str(cfg.get("mode", "naive_bayes")).lower()
        label = cfg.get("label_column")
        if not label:
            raise ValueError("model_train needs config.label_column")
        if mode == "naive_bayes":
            from metadata_etl_framework_spark.ops.classify import (
                nb_train,
            )

            text = cfg.get("text_column")
            if not text:
                raise ValueError(
                    "model_train naive_bayes mode needs "
                    "config.text_column"
                )
            return nb_train(
                data, text, label,
                smoothing=float(cfg.get("smoothing", 1.0)),
                min_count=int(cfg.get("min_count", 1)),
            )
        if mode in ("logistic", "linear"):
            feats = cfg.get("feature_columns")
            if not feats:
                raise ValueError(
                    f"model_train {mode} mode needs "
                    f"config.feature_columns"
                )
            if mode == "logistic":
                from metadata_etl_framework_spark.ops.glm import (
                    logistic_train,
                )

                return logistic_train(
                    data, list(feats), label,
                    iterations=int(cfg.get("iterations", 3)),
                    ridge=float(cfg.get("ridge", 1e-6)),
                )
            from metadata_etl_framework_spark.ops.glm import (
                linear_train,
            )

            return linear_train(
                data, list(feats), label,
                ridge=float(cfg.get("ridge", 0.0)),
            )
        raise ValueError(
            f"unknown model_train mode {mode!r}; expected one of"
            " ['naive_bayes', 'logistic', 'linear']"
        )

    def _model_score(self, data, step, sources) -> DataFrame:
        """Score the primary frame against a model table produced by a
        'model_train' step (round 12). mode 'naive_bayes' (default)
        joins the NB model from ``config.model_source`` and emits
        per-document argmax predictions (ops/classify.py::nb_score —
        needs text_column + id_column); mode 'logistic'/'linear' reads
        the (term, beta) table and emits the primary frame plus a
        ``score`` column (σ(xβ) for logistic, xβ for linear) — betas
        are driver-collected (d+1 rows) and applied as plan literals,
        so scoring is a pure projection."""
        cfg = step.get("config", step)
        mode = str(cfg.get("mode", "naive_bayes")).lower()
        model_name = cfg.get("model_source")
        if not model_name or model_name not in sources:
            raise ValueError(
                "model_score needs config.model_source naming a "
                "registered source/step output"
            )
        model = sources[model_name]
        if mode == "naive_bayes":
            from metadata_etl_framework_spark.ops.classify import (
                nb_score,
            )

            text = cfg.get("text_column")
            idc = cfg.get("id_column")
            if not text or not idc:
                raise ValueError(
                    "model_score naive_bayes mode needs "
                    "config.text_column and config.id_column"
                )
            return nb_score(data, model, text, idc)
        if mode in ("logistic", "linear"):
            betas = {
                r["term"]: float(r["beta"]) for r in model.collect()
            }
            if "_intercept" not in betas:
                raise ValueError(
                    "model_score: model table has no '_intercept' row "
                    "— not a glm model_train output"
                )
            z = F.lit(betas.pop("_intercept"))
            for term, b in betas.items():
                z = z + F.lit(b) * F.col(term).cast("double")
            if mode == "logistic":
                zc = F.greatest(F.least(z, F.lit(30.0)), F.lit(-30.0))
                score = F.lit(1.0) / (F.lit(1.0) + F.exp(-zc))
            else:
                score = z
            return data.withColumn(
                str(cfg.get("output_column", "score")),
                F.round(score, 12),
            )
        raise ValueError(
            f"unknown model_score mode {mode!r}; expected one of"
            " ['naive_bayes', 'logistic', 'linear']"
        )

    def _privacy_audit(self, data, step, sources) -> DataFrame:
        """Privacy release gates as a config step (quality/privacy.py),
        so a pipeline can refuse to publish a frame that violates its
        anonymity contract. mode 'k_anonymity' (default) = the 1-row
        release summary; 'k_classes' = the per-identity-class table;
        'l_diversity' = per-class sensitive diversity (needs
        sensitive_column); 'dp_counts' = ε-DP noisy group counts
        (needs group_columns)."""
        cfg = step.get("config", step)
        mode = str(cfg.get("mode", "k_anonymity")).lower()
        if mode in ("k_anonymity", "k_classes", "l_diversity"):
            qi = cfg.get("qi_columns")
            if not qi:
                raise ValueError(
                    f"privacy_audit {mode} mode needs config.qi_columns"
                )
            if mode == "l_diversity":
                from metadata_etl_framework_spark.quality.privacy import (
                    l_diversity_classes,
                )

                sens = cfg.get("sensitive_column")
                if not sens:
                    raise ValueError(
                        "privacy_audit l_diversity mode needs "
                        "config.sensitive_column"
                    )
                return l_diversity_classes(
                    data, list(qi), sens, l=int(cfg.get("l", 2))
                )
            from metadata_etl_framework_spark.quality.privacy import (
                k_anonymity_classes,
                k_anonymity_summary,
            )

            fn = (
                k_anonymity_summary
                if mode == "k_anonymity"
                else k_anonymity_classes
            )
            return fn(data, list(qi), k=int(cfg.get("k", 5)))
        if mode == "dp_counts":
            from metadata_etl_framework_spark.quality.privacy import (
                dp_noisy_counts,
            )

            groups = cfg.get("group_columns")
            if not groups:
                raise ValueError(
                    "privacy_audit dp_counts mode needs "
                    "config.group_columns"
                )
            return dp_noisy_counts(
                data,
                list(groups),
                epsilon=float(cfg.get("epsilon", 1.0)),
                seed=int(cfg.get("seed", 0)),
            )
        raise ValueError(
            f"unknown privacy_audit mode {mode!r}; expected one of"
            " ['k_anonymity', 'k_classes', 'l_diversity', 'dp_counts']"
        )

    def _feature_encode(self, data, step, sources) -> DataFrame:
        """Feature encoding as a config step (ops/features.py), so a
        declarative pipeline can materialize model features with the
        leakage and portability guarantees built in. mode 'target_oof'
        (default) APPENDS the K-fold out-of-fold target encoding as
        ``config.output_column``; mode 'woe_table' returns the
        weight-of-evidence / information-value table for
        ``config.cat_column`` vs a binary label; mode 'hash' returns
        the sparse (id, bucket, value) hashing-trick triples over
        ``config.categorical_columns`` / ``config.numeric_columns``."""
        from metadata_etl_framework_spark.ops.features import (
            hash_features,
            target_encode_oof,
            woe_iv,
        )

        cfg = step.get("config", step)
        mode = cfg.get("mode", "target_oof")
        if mode == "target_oof":
            cat = cfg.get("cat_column")
            tgt = cfg.get("target_column")
            idc = cfg.get("id_column")
            if not cat or not tgt or not idc:
                raise ValueError(
                    "feature_encode target_oof needs config.cat_column,"
                    " config.target_column and config.id_column"
                )
            return target_encode_oof(
                data,
                cat,
                tgt,
                idc,
                n_folds=int(cfg.get("n_folds", 5)),
                smoothing=float(cfg.get("smoothing", 20.0)),
                out=cfg.get("output_column", "te"),
            )
        if mode == "woe_table":
            cat = cfg.get("cat_column")
            label = cfg.get("label_column")
            if not cat or not label:
                raise ValueError(
                    "feature_encode woe_table needs config.cat_column"
                    " and config.label_column"
                )
            return woe_iv(
                data, cat, label,
                smoothing=float(cfg.get("smoothing", 0.5)),
            )
        if mode == "hash":
            idc = cfg.get("id_column")
            cats = list(cfg.get("categorical_columns", []))
            nums = list(cfg.get("numeric_columns", []))
            if not idc or not (cats or nums):
                raise ValueError(
                    "feature_encode hash needs config.id_column and at"
                    " least one of config.categorical_columns /"
                    " config.numeric_columns"
                )
            return hash_features(
                data,
                idc,
                categorical=cats,
                numeric=nums,
                n_buckets=int(cfg.get("n_buckets", 1024)),
            )
        raise ValueError(
            f"unknown feature_encode mode {mode!r}; expected one of"
            " ['hash', 'target_oof', 'woe_table']"
        )

    def _model_cv(self, data, step, sources) -> DataFrame:
        """K-fold cross-validated model evaluation as a config step
        (round 13): composes the deterministic hash fold assignment
        (ops/features.py::fold_assign convention) with the glm
        training machinery into per-fold + pooled held-out metrics —
        ONE grouped sufficient-statistics pass for all K models
        (leave-one-fold-out integer subtraction) + one scoring pass
        (ops/glm.py::linear_cv). mode 'linear' (default) needs
        feature_columns + label_column + id_column; optional n_folds,
        ridge."""
        cfg = step.get("config", step)
        mode = str(cfg.get("mode", "linear")).lower()
        if mode not in ("linear", "logistic"):
            raise ValueError(
                f"unknown model_cv mode {mode!r}; expected "
                "['linear', 'logistic']"
            )
        feats = cfg.get("feature_columns")
        label = cfg.get("label_column")
        idc = cfg.get("id_column")
        if not feats or not label or not idc:
            raise ValueError(
                "model_cv needs config.feature_columns, "
                "config.label_column and config.id_column"
            )
        if mode == "logistic":
            from metadata_etl_framework_spark.ops.glm import logistic_cv

            return logistic_cv(
                data, list(feats), label, idc,
                n_folds=int(cfg.get("n_folds", 4)),
                iterations=int(cfg.get("iterations", 3)),
                ridge=float(cfg.get("ridge", 1e-6)),
            )
        from metadata_etl_framework_spark.ops.glm import linear_cv

        return linear_cv(
            data, list(feats), label, idc,
            n_folds=int(cfg.get("n_folds", 4)),
            ridge=float(cfg.get("ridge", 0.0)),
        )

    _HANDLERS: ClassVar[dict[str, Callable]] = {
        "filter": _filter,
        "map": _map,
        "typeconversion": _typeconversion,
        "join": _join,
        "aggregate": _aggregate,
        "pivot": _pivot,
        "unpivot": _unpivot,
        "window": _window,
        "customudf": _customudf,
        "sqltransform": _sqltransform,
        "union": _union,
        "dedup": _dedup,
        "quality_filter": _quality_filter,
        "sample": _sample,
        "split": _split,
        "filter_funnel": _filter_funnel,
        "drift": _drift,
        "score_eval": _score_eval,
        "feature_encode": _feature_encode,
        "experiment_eval": _experiment_eval,
        "privacy_audit": _privacy_audit,
        "model_train": _model_train,
        "model_score": _model_score,
        "model_cv": _model_cv,
    }
