"""Pipeline execution state machine.

Parity target: OrchestratorManager (reference:
src/orchestrator/orchestrator_manager.py:45-307) — load config →
validate → run record → extract → transform → load → DQ validate → SLA →
finalize, with retry and failure handling.

Spark-first difference (SURVEY §3.1): extraction and transformation
build ONE lazy DataFrame DAG, and the load's write is the only action
that computes it. Extraction builds its plan without running a Spark
job: a parquet source's schema comes from one footer read on the driver
(``sources/file_connector.py::read_files``), not from Spark's
schema-inference job. The pipeline's DQ rules ride that write as one
``observe()`` (SURVEY §7.3): validation reads the rule counts, and
LOAD_LOG its ``rows_written``, from the write job instead of recomputing
the DAG. Only the dataset rules that need a pass of their own
(duplicates, distinct counts, referential integrity, distribution
samples) launch further jobs. TRANSFORM_LOG records per-step timings;
its ``rows_out`` stays NULL, because per-step counts would need an
``observe()`` per step.
"""

from __future__ import annotations

import logging
import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession

from metadata_etl_framework_spark.catalog.store import ConfigLoader, MetadataStore
from metadata_etl_framework_spark.monitoring.alerts import AlertManager
from metadata_etl_framework_spark.monitoring.audit import AuditLogger
from metadata_etl_framework_spark.monitoring.sla import SLAMonitor
from metadata_etl_framework_spark.operators import TransformEngine
from metadata_etl_framework_spark.quality.rules import (
    evaluate_rules,
    quality_score,
    rule_aggregates,
)
from metadata_etl_framework_spark.sources.file_connector import (
    FileConnector,
    _infer_format,
)
from metadata_etl_framework_spark.sources.registry import create_connector
from metadata_etl_framework_spark.utils.error_recovery import (
    classify_error,
    retry_with_backoff,
)
from metadata_etl_framework_spark.utils.lineage import LineageTracker

logger = logging.getLogger(__name__)


def _substitute_params(obj, params: "dict[str, object]"):
    """Recursively substitute ``{name}`` tokens in every STRING of a
    config tree — the parameterization hook backfill rides ("read
    partition {partition}"). Only known parameter names are replaced
    (token-by-token ``str.replace``, not ``format`` — untouched braces
    in regexes/SQL stay intact)."""
    if isinstance(obj, str):
        for k, v in params.items():
            obj = obj.replace("{" + str(k) + "}", str(v))
        return obj
    if isinstance(obj, dict):
        return {k: _substitute_params(v, params) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_substitute_params(v, params) for v in obj]
    return obj


def _target_format(tc: dict) -> "str | None":
    return tc["target_type"] if tc["target_type"] != "file" else None


def _observing_target(targets: "list[dict]") -> "dict | None":
    """The first target whose write is sure to run the result's query:
    an ``ignore``-mode write skips it when the target exists (its
    observation would read 0 rows), and the excel sink collects to the
    driver instead of writing from the plan."""
    for tc in targets:
        if str(tc.get("load_type", "overwrite")).lower() == "ignore":
            continue
        if _infer_format(tc["parameters"]["path"], _target_format(tc)) == "excel":
            continue
        return tc
    return None


class OrchestratorManager:
    def __init__(
        self,
        spark: SparkSession,
        store: MetadataStore,
        max_attempts: int = 3,
        base_delay: float = 0.5,
    ):
        self.spark = spark
        self.store = store
        self.loader = ConfigLoader(store)
        self.sla = SLAMonitor(store)
        self.alerts = AlertManager(store)
        self.audit = AuditLogger(store)
        self.lineage = LineageTracker(store)
        self.max_attempts = max_attempts
        self.base_delay = base_delay

    # ------------------------------------------------------------------ api

    def execute_pipeline(
        self,
        pipeline_id: int,
        trigger_type: str = "manual",
        triggered_by: str = "cli",
        params: "dict[str, Any] | None" = None,
    ) -> dict[str, Any]:
        config = self.loader.load_pipeline_metadata(pipeline_id)
        problems = self.loader.validate_metadata(config)
        if problems:
            raise ValueError(f"invalid pipeline metadata: {problems}")
        if params:
            config = _substitute_params(config, params)

        run_id = self.store.insert(
            "PIPELINE_RUNS",
            {
                "pipeline_id": pipeline_id,
                "status": "RUNNING",
                "trigger_type": trigger_type,
                "triggered_by": triggered_by,
                "started_at": time.time(),
            },
        )
        self.audit.log("pipeline_started", entity=str(pipeline_id), actor=triggered_by)
        try:
            sources = self._retry(lambda: self._extract(run_id, config))
            result = self._retry(lambda: self._transform(run_id, config, sources))
            dq_metrics = self._retry(lambda: self._load(run_id, config, result))
            dq_report = self._validate_dq(config, result, dq_metrics)
            run = self._finalize(run_id, "SUCCESS")
            sla_results = self.sla.record_run(
                run_id, pipeline_id, config.get("slas", []),
                duration_sec=run["duration_sec"],
                quality_score=dq_report.get("score"),
                row_count=dq_report.get("row_count"),
            )
            for miss in [r for r in sla_results if not r["met"]]:
                self.alerts.send(
                    "sla_violation",
                    f"pipeline {pipeline_id} run {run_id}: {miss['sla_type']} "
                    f"{miss['actual']} vs {miss['threshold']}",
                )
            return {
                "run_id": run_id,
                "status": "SUCCESS",
                "dq": dq_report,
                "sla": sla_results,
            }
        except Exception as exc:
            self._handle_failure(run_id, exc)
            raise

    def backfill(
        self,
        pipeline_id: int,
        partition_values: "list[object]",
        param_name: str = "partition",
        resume: bool = True,
        stop_on_failure: bool = False,
    ) -> dict[str, Any]:
        """Run the pipeline once per historical partition with
        per-partition run records and RESUME semantics: each partition's
        run is tagged ``backfill:{pipeline}:{value}`` in
        PIPELINE_RUNS.triggered_by, and with ``resume=True`` partitions
        that already have a SUCCESS run under that tag are skipped — a
        crashed 500-partition backfill rerun does only the remainder
        (the orchestration discipline every catch-up load needs; the
        reference has no backfill surface).

        Failed partitions are recorded and the sweep continues
        (``stop_on_failure=True`` aborts at the first). Returns
        {succeeded, skipped, failed: [(value, error)], runs}.
        """
        done: set[str] = set()
        if resume:
            done = {
                r["triggered_by"]
                for r in self.store.query(
                    "SELECT triggered_by FROM PIPELINE_RUNS "
                    "WHERE status = 'SUCCESS' AND triggered_by LIKE ?",
                    (f"backfill:{pipeline_id}:%",),
                )
            }
        succeeded, skipped, failed, runs = 0, 0, [], []
        for pv in partition_values:
            marker = f"backfill:{pipeline_id}:{pv}"
            if marker in done:
                skipped += 1
                continue
            try:
                res = self.execute_pipeline(
                    pipeline_id,
                    trigger_type="backfill",
                    triggered_by=marker,
                    params={param_name: pv},
                )
                succeeded += 1
                runs.append(res["run_id"])
            except Exception as exc:  # recorded by _handle_failure
                failed.append((pv, str(exc)))
                if stop_on_failure:
                    break
        return {
            "succeeded": succeeded,
            "skipped": skipped,
            "failed": failed,
            "runs": runs,
        }

    # ---------------------------------------------------------------- stages

    def _retry(self, fn):
        return retry_with_backoff(
            fn, max_attempts=self.max_attempts, base_delay=self.base_delay
        )

    def _extract(self, run_id: int, config: dict) -> dict[str, DataFrame]:
        sources: dict[str, DataFrame] = {}
        conn_cache = {
            c["connection_id"]: c
            for c in self.store.query("SELECT * FROM CONNECTIONS")
        }
        for sc in config["sources"]:
            t0 = time.monotonic()
            conn = conn_cache.get(sc.get("connection_id"))
            connector = create_connector(
                self.spark,
                {
                    "type": sc["source_type"],
                    **(dict(conn) if conn else {}),
                    **sc["parameters"],
                },
            )
            df = connector.read(**sc["parameters"])
            sources[sc["source_name"]] = df
            self.store.insert(
                "EXTRACTION_LOG",
                {
                    "run_id": run_id,
                    "source_name": sc["source_name"],
                    "status": "OK",
                    "duration_sec": time.monotonic() - t0,
                },
            )
        return sources

    def _transform(
        self, run_id: int, config: dict, sources: dict[str, DataFrame]
    ) -> DataFrame:
        result = next(iter(sources.values()))
        for tconf in config.get("transformations", []):
            engine = TransformEngine(self.spark, observe_rows=False)
            result = engine.execute_transformations(
                sources, tconf, primary=tconf.get("primary_source")
            )
            for m in engine.metrics:
                self.store.insert(
                    "TRANSFORM_LOG",
                    {
                        "run_id": run_id,
                        "step_name": m.step_name,
                        "step_type": m.step_type,
                        "rows_out": m.rows_out(),
                        "duration_sec": m.duration_sec,
                    },
                )
        return result

    def _load(
        self, run_id: int, config: dict, result: DataFrame
    ) -> "dict[str, Any] | None":
        """Write ``result`` to every target. The pipeline's DQ aggregates
        ride the write of the first target that runs its query as one
        ``observe()``; returns their values, or None when no write
        carried them. Called once per retry attempt, so every attempt
        builds a fresh (single-use) Observation."""
        rules = config.get("dq_rules", [])
        carrier = _observing_target(config["targets"]) if rules else None
        metrics = None
        col_edges = None  # one plan walk, recorded under every target
        for tc in config["targets"]:
            t0 = time.monotonic()
            params = dict(tc["parameters"])
            path = params.pop("path")
            out, observation = result, None
            if tc is carrier:
                # observe is the last node before the write, so the
                # metrics are collected in the write's result stage
                observation = Observation()
                out = result.observe(
                    observation, *rule_aggregates(rules, result.columns)
                )
            FileConnector(self.spark).write(
                out,
                path,
                fmt=_target_format(tc),
                mode=tc.get("load_type", "overwrite"),
                **params,
            )
            rows_written = None
            if observation is not None:
                metrics = observation.get
                rows_written = metrics["_total"]
            self.store.insert(
                "LOAD_LOG",
                {
                    "run_id": run_id,
                    "target_name": tc["target_name"],
                    "status": "OK",
                    "rows_written": rows_written,
                    "duration_sec": time.monotonic() - t0,
                },
            )
            for sc in config["sources"]:
                self.lineage.add_edge(
                    run_id, sc["source_name"], tc["target_name"], transform="pipeline"
                )
            # column-level edges derived from the result's analyzed
            # Catalyst plan (the reference hand-records these per step;
            # Spark's resolved plan already knows them exactly)
            try:
                if col_edges is None:
                    col_edges = self.lineage.record_plan_column_lineage(
                        run_id, result, tc["target_name"]
                    )
                else:
                    self.lineage.record_column_edges(
                        run_id, tc["target_name"], col_edges
                    )
            except Exception:  # noqa: BLE001 - lineage is best-effort
                logger.warning(
                    "plan-derived column lineage failed for %s",
                    tc["target_name"],
                    exc_info=True,
                )
        return metrics

    def _validate_dq(
        self, config: dict, result: DataFrame, metrics: "dict[str, Any] | None"
    ) -> dict:
        rules = config.get("dq_rules", [])
        if not rules:
            return {"score": None, "row_count": None, "results": []}
        results = evaluate_rules(result, rules, metrics=metrics)
        score = quality_score(results)
        row_count = results[0].total_rows if results else None
        return {
            "score": score,
            "row_count": row_count,
            "results": [r.__dict__ for r in results],
        }

    def _finalize(self, run_id: int, status: str, error: str | None = None) -> dict:
        run = self.store.query(
            "SELECT * FROM PIPELINE_RUNS WHERE run_id = ?", (run_id,)
        )[0]
        finished = time.time()
        duration = finished - (run["started_at"] or finished)
        self.store.execute(
            "UPDATE PIPELINE_RUNS SET status=?, finished_at=?, duration_sec=?, error=? "
            "WHERE run_id=?",
            (status, finished, duration, error, run_id),
        )
        self.audit.log("pipeline_finished", entity=str(run["pipeline_id"]),
                       details=f"run={run_id} status={status}")
        return {"run_id": run_id, "status": status, "duration_sec": duration}

    def _handle_failure(self, run_id: int, exc: Exception) -> None:
        category = classify_error(exc)
        self.store.insert(
            "ERROR_LOG",
            {
                "run_id": run_id,
                "stage": "pipeline",
                "category": category,
                "message": f"{type(exc).__name__}: {exc}"[:2000],
            },
        )
        self._finalize(run_id, "FAILED", error=str(exc)[:2000])
        self.alerts.send("pipeline_failed", f"run {run_id}: {category}: {exc}")
