"""Control-plane tests: metadata store → orchestrator E2E on real parquet,
scheduler policies, SLA checks, error recovery, lineage, security, CLI,
REST — mirroring the reference's integration suite
(tests/integration_tests.py:34-589)."""

from __future__ import annotations

import json
from datetime import datetime

import pytest

from metadata_etl_framework_spark.catalog.store import ConfigLoader, MetadataStore
from metadata_etl_framework_spark.monitoring.alerts import AlertManager
from metadata_etl_framework_spark.monitoring.sla import SLAMonitor
from metadata_etl_framework_spark.orchestrator.manager import OrchestratorManager
from metadata_etl_framework_spark.orchestrator.scheduler import (
    PipelineScheduler,
    Schedule,
    cron_matches,
    next_run_time,
)
from metadata_etl_framework_spark.utils.error_recovery import (
    CircuitBreaker,
    classify_error,
    retry_with_backoff,
)
from metadata_etl_framework_spark.utils.lineage import LineageTracker
from metadata_etl_framework_spark.utils.security import (
    SecurityManager,
    hash_password,
    verify_password,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def store():
    return MetadataStore(":memory:")


def _register_q1_pipeline(store: MetadataStore, out_path: str) -> int:
    pid = store.register_pipeline("pricing_summary", "TPC-H Q1 shape")
    store.register_source(
        pid, "lineitem", "parquet", {"path": f"{SF}/lineitem.parquet"}
    )
    store.register_transformation(
        pid,
        steps=[
            {"type": "filter",
             "config": {"condition": "l_shipdate <= timestamp '1998-09-02'"}},
            {"type": "aggregate",
             "config": {"group_by": ["l_returnflag", "l_linestatus"],
                        "aggregations": {"l_quantity": ["sum", "count"]}}},
        ],
        primary_source="lineitem",
    )
    store.register_target(pid, "out", "parquet", {"path": out_path})
    store.register_dq_rule(pid, {"type": "not_null", "column": "l_returnflag"})
    store.register_sla(pid, "execution_time", 300.0)
    store.register_sla(pid, "quality_score", 90.0)
    return pid


def test_orchestrator_end_to_end(spark, store, tmp_path):
    out = str(tmp_path / "out")
    pid = _register_q1_pipeline(store, out)
    result = OrchestratorManager(spark, store).execute_pipeline(pid)

    assert result["status"] == "SUCCESS"
    written = spark.read.parquet(out)
    expected_groups = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter("l_shipdate <= timestamp '1998-09-02'")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .count()
    )
    assert written.count() == expected_groups
    assert "l_quantity_sum" in written.columns

    runs = store.query("SELECT * FROM PIPELINE_RUNS")
    assert len(runs) == 1 and runs[0]["status"] == "SUCCESS"
    assert store.query("SELECT * FROM EXTRACTION_LOG")[0]["source_name"] == "lineitem"
    assert len(store.query("SELECT * FROM TRANSFORM_LOG")) == 2
    assert store.query("SELECT * FROM LOAD_LOG")[0]["target_name"] == "out"
    assert result["dq"]["score"] == 100.0
    assert all(s["met"] for s in result["sla"])
    # lineage edge recorded source→target
    lt = LineageTracker(store)
    assert "out" in lt.downstream("lineitem")
    # plan-derived COLUMN edges recorded automatically at load time:
    # the aggregate output traces to the scanned lineitem column
    sum_lin = lt.column_lineage("out", "l_quantity_sum")
    assert "lineitem.l_quantity" in sum_lin["upstream_columns"]


def test_load_derives_plan_lineage_once_for_all_targets(
    spark, store, tmp_path, monkeypatch
):
    """Two targets share one plan walk, and both record the same
    column edges."""
    from metadata_etl_framework_spark.utils import lineage as lineage_mod

    calls = []
    real = lineage_mod.plan_column_edges

    def spy(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(lineage_mod, "plan_column_edges", spy)
    pid = _register_q1_pipeline(store, str(tmp_path / "out"))
    store.register_target(pid, "copy", "parquet", {"path": str(tmp_path / "copy")})
    result = OrchestratorManager(spark, store).execute_pipeline(pid)

    assert result["status"] == "SUCCESS"
    assert len(calls) == 1
    lt = LineageTracker(store)
    ups = {
        t: lt.column_lineage(t, "l_quantity_sum")["upstream_columns"]
        for t in ("out", "copy")
    }
    assert "lineitem.l_quantity" in ups["out"]
    assert ups["copy"] == ups["out"]


def test_orchestrator_failure_path(spark, store):
    pid = store.register_pipeline("broken")
    store.register_source(pid, "nope", "parquet", {"path": "/nonexistent.parquet"})
    store.register_target(pid, "out", "parquet", {"path": "/tmp/never"})
    mgr = OrchestratorManager(spark, store, max_attempts=1)
    with pytest.raises(Exception):
        mgr.execute_pipeline(pid)
    runs = store.query("SELECT * FROM PIPELINE_RUNS")
    assert runs[0]["status"] == "FAILED"
    assert store.query("SELECT * FROM ERROR_LOG")


def test_config_loader_validation(store):
    pid = store.register_pipeline("p")
    store.register_source(pid, "src", "parquet", {"path": "/x"})
    store.register_transformation(
        pid, steps=[{"type": "join", "config": {"right_source": "ghost"}}],
        primary_source="src",
    )
    loader = ConfigLoader(store)
    config = loader.load_pipeline_metadata(pid)
    problems = loader.validate_metadata(config)
    assert any("ghost" in p for p in problems)
    assert any("target" in p for p in problems)
    # cache: same dict object back within TTL
    assert loader.load_pipeline_metadata(pid) is config


def test_cron_matching_and_next_run():
    assert cron_matches("*/15 * * * *", datetime(2026, 1, 5, 10, 30))
    assert not cron_matches("*/15 * * * *", datetime(2026, 1, 5, 10, 31))
    assert cron_matches("0 2 * * *", datetime(2026, 1, 5, 2, 0))
    nxt = next_run_time("0 2 * * *", datetime(2026, 1, 5, 2, 0))
    assert nxt == datetime(2026, 1, 6, 2, 0)
    # monday-only (dow 1)
    assert cron_matches("0 0 * * 1", datetime(2026, 1, 5, 0, 0))  # a Monday
    # Vixie day OR-rule applies only when BOTH dom and dow are restricted;
    # a field starting with '*' (e.g. '*/2') counts as UNrestricted, so
    # '*/2' dom + monday dow requires BOTH to match (AND), not either
    assert not cron_matches("0 0 */2 * 1", datetime(2026, 1, 6, 0, 0))  # Tue 6th: dom ok, dow no
    assert not cron_matches("0 0 */2 * 1", datetime(2026, 1, 5, 0, 0))  # Mon 5th: dow ok, dom no (OR-bug fired here)
    assert cron_matches("0 0 */2 * 1", datetime(2026, 1, 12, 0, 0))     # Mon 12th: both match
    # both restricted → OR (classic Vixie): the 13th OR any Monday fires
    assert cron_matches("0 0 13 * 1", datetime(2026, 1, 13, 0, 0))  # the 13th (a Tuesday)
    assert cron_matches("0 0 13 * 1", datetime(2026, 1, 5, 0, 0))   # a Monday


def test_scheduler_policies_and_retry():
    calls: list[int] = []

    def flaky_executor(pid: int, trigger: str):
        calls.append(pid)
        if pid == 2 and len([c for c in calls if c == 2]) == 1:
            raise TimeoutError("transient blip")
        return {"ok": True}

    sched = PipelineScheduler(flaky_executor)
    sched.add_schedule(Schedule(pipeline_id=1, cron="* * * * *"))
    sched.add_schedule(
        Schedule(pipeline_id=2, cron="* * * * *", max_retries=1, retry_delay_sec=0.0)
    )
    actions = sched.tick(datetime(2026, 1, 5, 10, 0))
    assert {a["pipeline_id"]: a["action"] for a in actions}[1] == "executed"
    assert any(a["action"] == "failed_will_retry" for a in actions)
    # next tick fires the retry and it succeeds
    actions2 = sched.tick(datetime(2026, 1, 5, 10, 1))
    assert any(
        a["pipeline_id"] == 2 and a["action"] == "executed" for a in actions2
    )
    # execution window excludes nighttime
    sched.add_schedule(
        Schedule(pipeline_id=3, cron="* * * * *",
                 window_start="09:00", window_end="17:00")
    )
    night = sched.tick(datetime(2026, 1, 5, 3, 0))
    assert any(
        a["pipeline_id"] == 3 and a["action"] == "skipped_window_or_deps"
        for a in night
    )


def test_sla_monitor(store):
    pid = store.register_pipeline("p")
    run_id = store.insert(
        "PIPELINE_RUNS", {"pipeline_id": pid, "status": "SUCCESS", "started_at": 0}
    )
    mon = SLAMonitor(store)
    results = mon.record_run(
        run_id, pid,
        [{"sla_type": "execution_time", "threshold": 10.0},
         {"sla_type": "quality_score", "threshold": 95.0},
         {"sla_type": "row_count", "threshold": 100.0}],
        duration_sec=12.0, quality_score=99.0, row_count=50,
    )
    by_type = {r["sla_type"]: r for r in results}
    assert not by_type["execution_time"]["met"]
    assert by_type["execution_time"]["deviation"] == pytest.approx(0.2)
    assert by_type["quality_score"]["met"]
    assert not by_type["row_count"]["met"]
    assert mon.compliance_rate(pid) == pytest.approx(100.0 / 3)


def test_alert_rate_limit_and_transport():
    am = AlertManager(rate_limit_sec=1000.0)
    seen = []
    am.register_transport("memo", lambda kind, msg: seen.append((kind, msg)))
    assert am.send("x", "first", transport="memo")
    assert not am.send("x", "suppressed", transport="memo")
    assert seen == [("x", "first")]


def test_error_classification_and_retry():
    assert classify_error(TimeoutError("read timed out")) == "transient"
    assert classify_error(MemoryError("out of memory")) == "resource"
    assert classify_error(ValueError("cannot cast type")) == "data"
    assert classify_error(KeyError("x not found")) == "config"

    attempts = []

    def flaky():
        attempts.append(1)
        if len(attempts) < 3:
            raise TimeoutError("timeout")
        return "ok"

    assert retry_with_backoff(flaky, max_attempts=5, sleep=lambda s: None) == "ok"
    assert len(attempts) == 3
    # non-retryable raises immediately
    with pytest.raises(ValueError):
        retry_with_backoff(
            lambda: (_ for _ in ()).throw(ValueError("bad cast")),
            sleep=lambda s: None,
        )


def test_circuit_breaker():
    cb = CircuitBreaker(failure_threshold=2, cooldown_sec=1000.0)

    def boom():
        raise RuntimeError("x")

    for _ in range(2):
        with pytest.raises(RuntimeError):
            cb.call(boom)
    assert cb.state == "open"
    with pytest.raises(RuntimeError, match="circuit breaker open"):
        cb.call(lambda: "fine")


def test_lineage_traversal(store):
    lt = LineageTracker(store)
    lt.add_edge(None, "raw", "staged", "clean")
    lt.add_edge(None, "staged", "mart", "agg")
    lt.add_edge(None, "dim", "mart", "join")
    assert lt.downstream("raw") == ["staged", "mart"]
    assert sorted(lt.upstream("mart")) == ["dim", "raw", "staged"]
    assert lt.impact_analysis("raw")["count"] == 2
    graph = lt.export_graph()
    assert set(graph["nodes"]) == {"raw", "staged", "mart", "dim"}


def test_security_manager():
    sm = SecurityManager()
    sm.store_credential("db", {"user": "u", "password": "p"})
    assert sm.get_credential("db")["user"] == "u"
    sm.rotate_credential("db", {"user": "u", "password": "p2"})
    assert sm.get_credential("db")["password"] == "p2"
    sm.add_user("alice", "operator")
    assert sm.authorize("alice", "execute")
    assert not sm.authorize("alice", "manage")
    token = sm.issue_token("alice")
    assert sm.validate_token(token) == "alice"
    assert sm.validate_token("garbage") is None
    stored = hash_password("s3cret")
    assert verify_password("s3cret", stored)
    assert not verify_password("wrong", stored)


def test_cli_and_rest(spark, store, tmp_path, capsys):
    from metadata_etl_framework_spark.api.cli import main
    from metadata_etl_framework_spark.api.rest import create_app

    db = str(tmp_path / "meta.db")
    assert main(["--db", db, "setup-db"]) == 0
    disk = MetadataStore(db)
    pid = _register_q1_pipeline(disk, str(tmp_path / "out"))

    assert main(["--db", db, "pipelines", "list"]) == 0
    out = capsys.readouterr().out
    assert "pricing_summary" in out

    assert main(["--db", db, "pipelines", "show", str(pid)]) == 0
    shown = json.loads(capsys.readouterr().out)
    assert shown["pipeline"]["pipeline_name"] == "pricing_summary"

    app = create_app(disk, orchestrator=OrchestratorManager(spark, disk))
    client = app.test_client()
    assert client.get("/health").get_json()["status"] == "ok"
    assert client.get("/pipelines").get_json()[0]["pipeline_name"] == "pricing_summary"
    run = client.post("/executions", json={"pipeline_id": pid})
    assert run.status_code == 201 and run.get_json()["status"] == "SUCCESS"
    listed = client.get("/executions").get_json()
    assert listed and listed[0]["status"] == "SUCCESS"
    assert client.get("/metrics").get_json()["runs"]

    # update / soft-delete pipeline (reference rest_api.py:261-307)
    upd = client.put(f"/pipelines/{pid}", json={"description": "new desc",
                                                "bogus_field": 1})
    assert upd.status_code == 200 and upd.get_json()["updated"] == ["description"]
    assert client.put("/pipelines/99999", json={}).status_code == 404
    dele = client.delete(f"/pipelines/{pid}")
    assert dele.status_code == 200 and dele.get_json()["deleted"]
    row = disk.query("SELECT is_active FROM PIPELINES WHERE pipeline_id = ?",
                     (pid,))[0]
    assert row["is_active"] == 0  # soft delete keeps the record

    # execution status / cancel (reference rest_api.py:383-462)
    run_id = listed[0]["run_id"]
    st = client.get(f"/executions/{run_id}/status")
    assert st.status_code == 200 and st.get_json()["status"] == "SUCCESS"
    # finished runs are not cancellable
    assert client.post(f"/executions/{run_id}/cancel").status_code == 409
    disk.execute("UPDATE PIPELINE_RUNS SET status = 'RUNNING' WHERE run_id = ?",
                 (run_id,))
    ok = client.post(f"/executions/{run_id}/cancel")
    assert ok.status_code == 200 and ok.get_json()["status"] == "CANCELLED"


def test_performance_monitor(spark):
    from metadata_etl_framework_spark.monitoring.performance import PerformanceMonitor

    pm = PerformanceMonitor(spark)
    for _ in range(3):
        pm.start("count_job")
        spark.range(100000).selectExpr("sum(id)").collect()
        m = pm.stop("count_job", rows=100000)
    assert m.duration_sec > 0 and m.peak_rss_mb > 0
    cmp = pm.baseline_compare("count_job")
    assert cmp is not None and cmp["baseline_sec"] > 0
    assert isinstance(pm.bottleneck_hints(m), list)


def test_timeseries_detectors_gated(spark):
    """statsmodels/ruptures absent in this container: the API must raise
    the documented NotImplementedError, not a random ImportError."""
    import pytest as _pytest

    from metadata_etl_framework_spark.quality.anomaly import detect_timeseries
    from metadata_etl_framework_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    for method in ("arima_residual", "stl_decomposition", "changepoint",
                   "prophet"):
        with _pytest.raises(NotImplementedError):
            detect_timeseries(ev, "value", "event_id", "event_id", method=method)
    with _pytest.raises(ValueError):
        detect_timeseries(ev, "value", "event_id", "event_id", method="nope")


def test_cli_cancel_and_schema_commands(tmp_path, capsys):
    from metadata_etl_framework_spark.api.cli import main
    from metadata_etl_framework_spark.catalog.schema_manager import SchemaManager

    db = str(tmp_path / "meta2.db")
    assert main(["--db", db, "setup-db"]) == 0
    capsys.readouterr()
    disk = MetadataStore(db)
    pid = disk.register_pipeline("p")
    run_id = disk.insert(
        "PIPELINE_RUNS",
        {"pipeline_id": pid, "status": "RUNNING", "started_at": 0},
    )
    assert main(["--db", db, "executions", "cancel", str(run_id)]) == 0
    assert json.loads(capsys.readouterr().out)["status"] == "CANCELLED"
    # already cancelled → refuses
    assert main(["--db", db, "executions", "cancel", str(run_id)]) == 1
    capsys.readouterr()

    SchemaManager(disk).apply_schema_sql("CREATE TABLE xx (id INT);", "1.0", "t")
    assert main(["--db", db, "schema", "version"]) == 0
    assert json.loads(capsys.readouterr().out)["version"] == "1.0"
    assert main(["--db", db, "schema", "history"]) == 0
    assert "1.0" in capsys.readouterr().out


def test_security_revoke_audit_and_masking(store):
    from metadata_etl_framework_spark.utils.security import (
        SecurityManager,
        mask_connection_string,
    )

    sm = SecurityManager()
    sm.add_user("ops", "operator")
    tok = sm.issue_token("ops")
    assert sm.validate_token(tok) == "ops"
    assert sm.revoke_token(tok)
    assert sm.validate_token(tok) is None
    assert not sm.revoke_token(tok)  # second revoke is a no-op

    sm.log_security_event(store, "login_failed", "ops", "bad password")
    rows = store.query("SELECT * FROM AUDIT_LOG")
    assert rows and rows[-1]["event_type"] == "security:login_failed"

    masked = mask_connection_string("postgresql://admin:hunter2@db:5432/prod")
    assert masked == "postgresql://admin:***@db:5432/prod"
    assert "hunter2" not in masked
    # no credentials → unchanged
    assert mask_connection_string("s3a://bucket/path") == "s3a://bucket/path"

    # external secret via injected fetcher; unknown provider raises
    got = sm.fetch_external_secret(
        "aws_secrets_manager", "db/creds",
        fetcher=lambda p, r: {"user": "u", "provider": p, "ref": r},
    )
    assert got == {"user": "u", "provider": "aws_secrets_manager", "ref": "db/creds"}
    with pytest.raises(ValueError):
        sm.fetch_external_secret("nope", "x", fetcher=None)


def test_column_level_lineage(store):
    lt = LineageTracker(store)
    lt.add_column_derivation(
        None, "summary", "revenue",
        [("lineitem", "l_extendedprice"), ("lineitem", "l_discount")],
        "sum(l_extendedprice * (1 - l_discount))",
    )
    lt.add_column_derivation(
        None, "report", "rounded_revenue", [("summary", "revenue")],
        "round(revenue, 2)",
    )
    lin = lt.column_lineage("report", "rounded_revenue")
    assert lin["expression"] == "round(revenue, 2)"
    assert set(lin["upstream_columns"]) == {
        "summary.revenue", "lineitem.l_extendedprice", "lineitem.l_discount"
    }
    # impact: changing the source column affects both downstream columns
    impact = lt.impact_analysis("lineitem.l_extendedprice")
    assert set(impact["affected"]) == {"summary.revenue", "report.rounded_revenue"}


def test_audit_summary_and_user_activity(store):
    from metadata_etl_framework_spark.monitoring.audit import AuditLogger

    al = AuditLogger(store)
    al.log("pipeline_start", "p1", actor="alice")
    al.log("pipeline_start", "p2", actor="alice")
    al.log("config_change", "p1", actor="bob", details="schedule")
    rep = al.summary_report()
    assert rep["total_events"] == 3
    assert {r["event_type"]: r["n"] for r in rep["by_type"]} == {
        "pipeline_start": 2, "config_change": 1
    }
    assert rep["top_actors"][0]["actor"] == "alice"
    acts = al.user_activity("bob")
    assert len(acts) == 1 and acts[0]["event_type"] == "config_change"


def test_performance_continuous_sampler(spark):
    from metadata_etl_framework_spark.monitoring.performance import (
        PerformanceMonitor,
    )

    pm = PerformanceMonitor(spark)
    pm.start_monitoring("r1", interval_sec=0.05)
    spark.range(2_000_000).selectExpr("sum(id * id)").collect()
    import time as _t
    _t.sleep(0.2)
    summary = pm.stop_monitoring("r1")
    assert summary["samples"] >= 2
    assert summary["wall_sec"] > 0 and summary["peak_rss_mb"] > 0
    assert summary["avg_cpu_util"] >= 0.0


def test_sla_drift_psi_check(store):
    pid = store.register_pipeline("pd")
    run_id = store.insert(
        "PIPELINE_RUNS", {"pipeline_id": pid, "status": "SUCCESS", "started_at": 0}
    )
    mon = SLAMonitor(store)
    ok, bad = mon.record_run(
        run_id, pid,
        [{"sla_type": "drift_psi", "threshold": 0.25},
         {"sla_type": "drift_psi", "threshold": 0.1}],
        drift_psi=0.18,
    )
    assert ok["met"] and not bad["met"]
    assert bad["deviation"] == pytest.approx(0.8)
    # absent measurement -> check passes (no basis to fail the run)
    (none_res,) = mon.record_run(
        run_id, pid, [{"sla_type": "drift_psi", "threshold": 0.1}]
    )
    assert none_res["met"] and none_res["actual"] is None
    # drift_ks ceiling (round-7): same shape, fed by ks_vs_baseline
    ks_ok, ks_bad = mon.record_run(
        run_id, pid,
        [{"sla_type": "drift_ks", "threshold": 0.3},
         {"sla_type": "drift_ks", "threshold": 0.05}],
        drift_ks=0.12,
    )
    assert ks_ok["met"] and not ks_bad["met"]


def test_plan_derived_column_lineage_three_step_pipeline(store, spark):
    """Round-7 verdict item 7: a 3-step TransformEngine pipeline's
    column edges derived FROM THE ANALYZED CATALYST PLAN must equal the
    edge set the reference's tracker records by hand per step
    (src/utils/data_lineage_tracker.py:295-397): filter keeps
    provenance, join attributes resolve to their side's relation,
    aggregate rewires outputs to the aggregated inputs."""
    from pyspark.sql import functions as F  # noqa: F401

    from metadata_etl_framework_spark.operators import TransformEngine
    from metadata_etl_framework_spark.utils.lineage import (
        LineageTracker,
        plan_column_edges,
    )

    emp = spark.createDataFrame(
        [(1, "Ann", 34, 50000.0, 10), (2, "Bob", 28, 60000.0, 20),
         (3, "Cid", 45, 80000.0, 10)],
        "id long, name string, age long, salary double, dept_id long",
    )
    dept = spark.createDataFrame(
        [(10, "Eng"), (20, "HR")], "dept_id long, dept_name string"
    )
    emp.createOrReplaceTempView("employees")
    dept.createOrReplaceTempView("departments")

    out = TransformEngine(spark).execute_transformations(
        {"employees": spark.table("employees"),
         "departments": spark.table("departments")},
        {"primary_source": "employees", "steps": [
            {"type": "filter", "condition": "age > 30"},
            {"type": "join", "right_source": "departments",
             "on": ["dept_id"], "how": "inner"},
            {"type": "aggregate", "group_by": ["dept_name"],
             "aggregations": {"salary": "avg"}},
        ]},
    )
    edges = plan_column_edges(out)
    agg_col = [c for c in edges if c != "dept_name"][0]  # avg(salary) alias
    assert edges["dept_name"] == [("departments", "dept_name")]
    assert edges[agg_col] == [("employees", "salary")]

    # recorded into the same store the hand-recorded path uses, the
    # transitive traversal sees exactly the reference's edge set
    lt = LineageTracker(store)
    lt.record_plan_column_lineage(7, out, "dept_salary_report")
    lin = lt.column_lineage("dept_salary_report", agg_col)
    assert lin["upstream_columns"] == ["employees.salary"]
    lin2 = lt.column_lineage("dept_salary_report", "dept_name")
    assert lin2["upstream_columns"] == ["departments.dept_name"]


def test_plan_column_edges_union_and_file_relations(spark):
    """Union folds both children positionally; file scans name the
    relation by basename (orders.parquet -> orders)."""
    from metadata_etl_framework_spark.utils.lineage import plan_column_edges

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    a = o.select(o.o_orderkey.alias("k"), o.o_totalprice.alias("v"))
    c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    b = c.select(c.c_custkey.alias("k"), c.c_acctbal.alias("v"))
    edges = plan_column_edges(a.unionByName(b))
    assert set(edges["k"]) == {("orders", "o_orderkey"), ("customer", "c_custkey")}
    assert set(edges["v"]) == {("orders", "o_totalprice"), ("customer", "c_acctbal")}


def test_plan_column_edges_generate_and_window_fallback(spark):
    """Nodes without named-expression rewiring (Generate from explode,
    Window) take the pass-through+references fallback: introduced
    attributes inherit the union of the node's expression references."""
    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.utils.lineage import plan_column_edges

    df = spark.createDataFrame(
        [(1, [10, 20], 5.0)], "id long, xs array<int>, w double"
    )
    df.createOrReplaceTempView("src")
    exploded = spark.table("src").select(
        "id", F.explode("xs").alias("x")
    )
    e = plan_column_edges(exploded)
    assert e["id"] == [("src", "id")]
    assert ("src", "xs") in e["x"]

    from pyspark.sql import Window

    ranked = spark.table("src").withColumn(
        "rn", F.row_number().over(Window.partitionBy("id").orderBy("w"))
    )
    r = plan_column_edges(ranked)
    assert r["id"] == [("src", "id")]
    # the window output depends on its partition/order references
    assert set(r["rn"]) >= {("src", "id"), ("src", "w")}


def test_plan_column_edges_full_step_vocabulary(spark):
    """Round-8 (r7 verdict item 7): Catalyst-derived column lineage must
    hold for EVERY step type the compiler dispatches — including pivot,
    sqltransform and customudf — not just the filter/join/aggregate
    happy path. One single-step pipeline per type, edges asserted."""
    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.operators import TransformEngine
    from metadata_etl_framework_spark.utils.lineage import plan_column_edges

    docs = spark.createDataFrame(
        [(i, f"text body {i} word", "web" if i % 2 else "book",
          float(i), "g%d" % (i % 3)) for i in range(1, 13)],
        "doc_id long, text string, source string, w double, g string",
    )
    docs.createOrReplaceTempView("docs")
    spark.createDataFrame(
        [(101, "extra doc text", "web", 1.5, "g1")],
        "doc_id long, text string, source string, w double, g string",
    ).createOrReplaceTempView("docs2")
    spark.createDataFrame(
        [("g0", "Group Zero"), ("g1", "Group One"), ("g2", "Group Two")],
        "g string, gname string",
    ).createOrReplaceTempView("dims")

    eng = TransformEngine(spark, allow_custom_udf=True)

    def run(step):
        return eng.execute_transformations(
            {"docs": spark.table("docs"), "docs2": spark.table("docs2"),
             "dims": spark.table("dims")},
            {"primary_source": "docs", "steps": [step]},
        )

    # every handler in TransformEngine._HANDLERS must appear below
    covered = set()

    def edges_for(step_type, config):
        covered.add(step_type)
        return plan_column_edges(run({"type": step_type, **config}))

    e = edges_for("filter", {"condition": "w > 0"})
    assert e["text"] == [("docs", "text")]

    e = edges_for("map", {"derive": {"wlen": "length(text)"},
                          "rename": {"source": "src"}})
    assert e["wlen"] == [("docs", "text")]
    assert e["src"] == [("docs", "source")]

    e = edges_for("typeconversion", {"conversions": {"w": "string"}})
    assert e["w"] == [("docs", "w")]

    e = edges_for("join", {"right_source": "dims", "on": ["g"],
                           "how": "inner"})
    assert e["gname"] == [("dims", "gname")]
    assert e["text"] == [("docs", "text")]

    e = edges_for("aggregate", {"group_by": ["g"],
                                "aggregations": {"w": "sum"}})
    agg_col = [c for c in e if c != "g"][0]
    assert e[agg_col] == [("docs", "w")]

    e = edges_for("pivot", {"index": ["g"], "columns": "source",
                            "values": "w", "aggfunc": "sum",
                            "pivot_values": ["web", "book"]})
    assert e["g"] == [("docs", "g")]
    assert all(("docs", "w") in e[c] for c in e if c != "g"), e

    e = edges_for("unpivot", {"ids": ["doc_id"], "values": ["w"]})
    assert ("docs", "w") in e["value"]
    assert e["doc_id"] == [("docs", "doc_id")]

    e = edges_for("window", {"function": "rank", "partition_by": ["g"],
                             "order_by": ["w"]})
    assert set(e["rank"]) >= {("docs", "g"), ("docs", "w")}

    e = edges_for("customudf", {
        "udf_code": "result = df.select('doc_id', F.col('w').alias('w2'))"
    })
    assert e["w2"] == [("docs", "w")]

    e = edges_for("sqltransform", {
        "query": "SELECT d.doc_id, d.w * 2 AS dw FROM docs d"
    })
    assert e["dw"] == [("docs", "w")]

    e = edges_for("union", {"with": ["docs2"]})
    assert set(e["w"]) == {("docs", "w"), ("docs2", "w")}

    e = edges_for("dedup", {"method": "exact"})
    assert e["text"] == [("docs", "text")]

    e = edges_for("quality_filter", {"min_score": 0.0})
    assert e["text"] == [("docs", "text")]

    e = edges_for("sample", {"mode": "fraction", "fraction": 1.0})
    assert e["text"] == [("docs", "text")]

    e = edges_for("split", {"fractions": {"train": 0.5, "test": 0.5}})
    assert e["text"] == [("docs", "text")]
    assert ("docs", "doc_id") in e["split"]

    e = edges_for("filter_funnel", {
        "stages": [{"name": "nonneg_w", "condition": "w >= 0"}]
    })
    assert e["text"] == [("docs", "text")]

    e = edges_for("drift", {"reference": "docs2", "numeric_columns": ["w"],
                            "categorical_columns": ["source"]})
    srcs = set(e["value"])
    assert ("docs", "w") in srcs and ("docs2", "w") in srcs, srcs

    e = edges_for("score_eval", {"score_column": "w",
                                 "label_column": "doc_id",
                                 "metrics": ["auc"]})
    assert ("docs", "w") in set(e["value"]), e

    e = edges_for("feature_encode", {"cat_column": "source",
                                     "target_column": "w",
                                     "id_column": "doc_id",
                                     "output_column": "te"})
    # the encoding value derives from the target sums (join keys are
    # not value edges in the plan walker's semantics)
    assert set(e["te"]) == {("docs", "w")}, e

    # driver-collected 1-row experiment readouts assemble from a
    # local LogicalRDD — the lineage cannot reach back to the named
    # sources by design (the step exists for gating, not column flow)
    e = edges_for("experiment_eval", {"variant_column": "source",
                                      "unit_column": "doc_id",
                                      "converted_column": "w"})
    named = {"docs", "docs2", "dims"}
    assert not any(
        src in named for refs in e.values() for (src, _) in refs
    ), e

    e = edges_for("privacy_audit", {"mode": "k_classes",
                                    "qi_columns": ["source", "g"],
                                    "k": 2})
    assert e["source"] == [("docs", "source")]
    assert e["g"] == [("docs", "g")]

    # round 12: trainable-model steps. nb_train's model frame is
    # eagerly localCheckpointed (a LogicalRDD — lineage severed by the
    # materialization, like experiment_eval's driver-collected rows)
    e = edges_for("model_train", {"mode": "naive_bayes",
                                  "text_column": "text",
                                  "label_column": "g"})
    named = {"docs", "docs2", "dims"}
    assert not any(
        src in named for refs in e.values() for (src, _) in refs
    ), e
    # glm betas apply as plan literals: the score column derives from
    # the FEATURE columns of the scored frame
    docs_model = spark.createDataFrame(
        [("_intercept", 0.1), ("w", 0.5)], "term string, beta double"
    )
    covered.add("model_score")
    e = plan_column_edges(
        eng.execute_transformations(
            {"docs": spark.table("docs"), "docs2": spark.table("docs2"),
             "dims": spark.table("dims"), "m": docs_model},
            {"primary_source": "docs", "steps": [{
                "type": "model_score",
                "config": {"mode": "logistic", "model_source": "m"},
            }]},
        )
    )
    assert set(e["score"]) == {("docs", "w")}, e

    # round 13: model_cv's per-fold metric rows are driver-assembled
    # from collected integer sums (a LogicalRDD) — lineage severed by
    # the materialization, like experiment_eval / model_train
    e = edges_for("model_cv", {"mode": "linear",
                               "feature_columns": ["doc_id"],
                               "label_column": "w",
                               "id_column": "doc_id",
                               "n_folds": 2})
    named = {"docs", "docs2", "dims"}
    assert not any(
        src in named for refs in e.values() for (src, _) in refs
    ), e

    assert covered == set(TransformEngine._HANDLERS), (
        set(TransformEngine._HANDLERS) - covered
    )


def test_explain_transformations_dry_run(spark):
    """Round-8: the pipeline dry-run audits each step's compiled plan
    without executing, and fail_on_cartesian catches a config edit that
    introduces a cross join before any data moves."""
    import pytest as _pt

    from metadata_etl_framework_spark.operators import TransformEngine

    left = spark.range(100).withColumnRenamed("id", "k")
    right = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    eng = TransformEngine(spark)
    rows = eng.explain_transformations(
        {"l": left, "r": right},
        {"primary_source": "l", "steps": [
            {"name": "keep", "type": "filter", "condition": "k > 10"},
            {"name": "enrich", "type": "join",
             "config": {"right_source": "r", "on": ["k"],
                        "broadcast": True}},
        ]},
    )
    assert [r["step"] for r in rows] == ["keep", "enrich"]
    assert rows[0]["cartesian"] == 0
    assert rows[1]["broadcast_hash_joins"] >= 1 and rows[1]["cartesian"] == 0

    bad = {"primary_source": "l", "steps": [
        {"name": "oops", "type": "sqltransform",
         "config": {"query": "SELECT * FROM l CROSS JOIN r"}},
    ]}
    audit = eng.explain_transformations({"l": left, "r": right}, bad)
    assert audit[0]["cartesian"] >= 1  # visible in the report
    with _pt.raises(ValueError, match="cartesian"):
        eng.explain_transformations(
            {"l": left, "r": right}, bad, fail_on_cartesian=True
        )


def test_backfill_params_resume_and_failure(spark, store, tmp_path):
    """Round-8: parameterized backfill — {partition} tokens substitute
    into source/target paths, per-partition run records land, resume
    skips completed partitions, and a broken partition is recorded
    without aborting the sweep."""
    # partitioned input: two good days, one missing (will fail extract)
    base = str(tmp_path / "in")
    for day in ("2024-01-01", "2024-01-02"):
        spark.createDataFrame(
            [(day, i, float(i)) for i in range(5)],
            "day string, id int, v double",
        ).write.mode("overwrite").parquet(f"{base}/day={day}/data")
    out = str(tmp_path / "out")

    pid = store.register_pipeline("daily", "parameterized backfill")
    store.register_source(
        pid, "src", "parquet", {"path": f"{base}/day={{partition}}/data"}
    )
    store.register_transformation(
        pid,
        steps=[{"type": "filter", "config": {"condition": "v >= 0"}}],
        primary_source="src",
    )
    store.register_target(
        pid, "out", "parquet", {"path": f"{out}/day={{partition}}"}
    )

    mgr = OrchestratorManager(spark, store, max_attempts=1)
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]  # 03 missing
    res = mgr.backfill(pid, days)
    assert res["succeeded"] == 2 and res["skipped"] == 0
    assert len(res["failed"]) == 1 and res["failed"][0][0] == "2024-01-03"
    assert spark.read.parquet(f"{out}/day=2024-01-01").count() == 5
    assert spark.read.parquet(f"{out}/day=2024-01-02").count() == 5

    # now the missing day appears; resume re-runs ONLY the failed one
    spark.createDataFrame(
        [("2024-01-03", i, float(i)) for i in range(3)],
        "day string, id int, v double",
    ).write.parquet(f"{base}/day=2024-01-03/data")
    res2 = mgr.backfill(pid, days)
    assert res2 == {**res2, "succeeded": 1, "skipped": 2, "failed": []}
    assert spark.read.parquet(f"{out}/day=2024-01-03").count() == 3


def test_backfill_resume_skips_only_this_pipelines_successes(spark, store, tmp_path):
    """Resume skips the partition that already has a SUCCESS run under
    this pipeline's marker, and still runs the rest: a FAILED run of the
    same marker and a SUCCESS run of another pipeline do not count."""
    base = str(tmp_path / "in")
    for day in ("d1", "d2", "d3"):
        spark.createDataFrame(
            [(day, i) for i in range(3)], "day string, id int"
        ).write.parquet(f"{base}/{day}")
    out = str(tmp_path / "out")
    pid = store.register_pipeline("resume_daily")
    store.register_source(pid, "src", "parquet", {"path": f"{base}/{{partition}}"})
    store.register_transformation(
        pid, steps=[{"type": "filter", "config": {"condition": "id >= 0"}}],
        primary_source="src",
    )
    store.register_target(pid, "out", "parquet", {"path": f"{out}/{{partition}}"})
    other = store.register_pipeline("other")
    for owner, status, day in ((pid, "FAILED", "d2"), (other, "SUCCESS", "d3")):
        store.insert("PIPELINE_RUNS", {"pipeline_id": owner, "status": status,
                                       "triggered_by": f"backfill:{owner}:{day}"})

    mgr = OrchestratorManager(spark, store, max_attempts=1)
    assert mgr.backfill(pid, ["d1"])["succeeded"] == 1
    res = mgr.backfill(pid, ["d1", "d2", "d3"])
    assert res["skipped"] == 1 and res["succeeded"] == 2 and res["failed"] == []
    ran = store.query(
        "SELECT triggered_by FROM PIPELINE_RUNS WHERE trigger_type = 'backfill' "
        "ORDER BY run_id"
    )
    assert [r["triggered_by"] for r in ran] == [
        f"backfill:{pid}:d1", f"backfill:{pid}:d2", f"backfill:{pid}:d3"
    ]
    assert spark.read.parquet(f"{out}/d3").count() == 3


def test_rest_backfill_route(spark, store, tmp_path):
    """Round-8: POST /pipelines/<id>/backfill drives the parameterized
    backfill through the REST surface."""
    from metadata_etl_framework_spark.api.rest import create_app

    base = str(tmp_path / "in")
    for day in ("d1", "d2"):
        spark.createDataFrame(
            [(day, i) for i in range(4)], "day string, id int"
        ).write.parquet(f"{base}/{day}")
    out = str(tmp_path / "out")
    pid = store.register_pipeline("rest_backfill")
    store.register_source(pid, "src", "parquet", {"path": f"{base}/{{partition}}"})
    store.register_transformation(
        pid, steps=[{"type": "filter", "config": {"condition": "id >= 0"}}],
        primary_source="src",
    )
    store.register_target(pid, "out", "parquet", {"path": f"{out}/{{partition}}"})

    app = create_app(store, orchestrator=OrchestratorManager(spark, store))
    client = app.test_client()
    resp = client.post(
        f"/pipelines/{pid}/backfill", json={"partitions": ["d1", "d2"]}
    )
    assert resp.status_code == 201
    body = resp.get_json()
    assert body["succeeded"] == 2 and body["failed"] == []
    assert spark.read.parquet(f"{out}/d1").count() == 4
    # empty partitions rejected
    assert client.post(
        f"/pipelines/{pid}/backfill", json={}
    ).status_code == 400


def test_cli_pipelines_explain(spark, tmp_path, capsys):
    """Round-8: `pipelines explain <id>` prints one plan-audit row per
    step without executing the pipeline (no run records, no target
    writes)."""
    import json as _json

    from metadata_etl_framework_spark.api.cli import main

    db = str(tmp_path / "meta.db")
    disk = MetadataStore(db)
    out = str(tmp_path / "out")
    pid = _register_q1_pipeline(disk, out)

    rc = main(["--db", db, "pipelines", "explain", str(pid)], spark=spark)
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l]
    rows = [_json.loads(l) for l in lines]
    assert [r["type"] for r in rows] == ["filter", "aggregate"]
    assert all(r["cartesian"] == 0 for r in rows)
    assert rows[0]["pushed_filters"] >= 0
    # dry run: nothing executed, nothing written
    import os

    assert not os.path.exists(out)
    assert disk.query("SELECT * FROM PIPELINE_RUNS") == []


def test_sla_score_quality_checks(store):
    """Round-10: score_auc floor and score_ece ceiling — a run gates on
    classifier quality the way it gates on drift; absent measurements
    never violate."""
    pid = store.register_pipeline("psq")
    run_id = store.insert(
        "PIPELINE_RUNS", {"pipeline_id": pid, "status": "SUCCESS", "started_at": 0}
    )
    mon = SLAMonitor(store)
    auc_ok, auc_bad, ece_ok, ece_bad = mon.record_run(
        run_id, pid,
        [{"sla_type": "score_auc", "threshold": 0.7},
         {"sla_type": "score_auc", "threshold": 0.9},
         {"sla_type": "score_ece", "threshold": 0.1},
         {"sla_type": "score_ece", "threshold": 0.01}],
        score_auc=0.81, score_ece=0.04,
    )
    assert auc_ok["met"] and not auc_bad["met"]
    assert ece_ok["met"] and not ece_bad["met"]
    assert ece_bad["deviation"] == pytest.approx(3.0)
    none_auc, none_ece = mon.record_run(
        run_id, pid,
        [{"sla_type": "score_auc", "threshold": 0.9},
         {"sla_type": "score_ece", "threshold": 0.01}],
    )
    assert none_auc["met"] and none_ece["met"]


def test_sla_forecast_smape_ceiling(store):
    """Round-10 second sweep: forecast_smape ceiling — a metrics run
    gates on its seasonal predictability; absent measurements never
    violate."""
    pid = store.register_pipeline("pfc")
    run_id = store.insert(
        "PIPELINE_RUNS",
        {"pipeline_id": pid, "status": "SUCCESS", "started_at": 0},
    )
    mon = SLAMonitor(store)
    ok, bad = mon.record_run(
        run_id, pid,
        [{"sla_type": "forecast_smape", "threshold": 0.5},
         {"sla_type": "forecast_smape", "threshold": 0.1}],
        forecast_smape=0.2,
    )
    assert ok["met"] and not bad["met"]
    assert bad["deviation"] == pytest.approx(1.0)
    (none_r,) = mon.record_run(
        run_id, pid, [{"sla_type": "forecast_smape", "threshold": 0.1}]
    )
    assert none_r["met"]
