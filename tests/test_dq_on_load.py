"""DQ on load: a pipeline's aggregate-shaped DQ rules ride the load's
write as one ``observe()``, so validation launches no Spark job of its
own. These tests pin that the observed results equal a standalone
``evaluate_rules`` pass, and the write paths that must not carry the
observation (ignore mode), retries and analysis errors."""

from __future__ import annotations

import os
from datetime import date, datetime

import pytest

from metadata_etl_framework_spark.catalog.store import MetadataStore
from metadata_etl_framework_spark.orchestrator import manager as manager_mod
from metadata_etl_framework_spark.orchestrator.manager import OrchestratorManager
from metadata_etl_framework_spark.quality.rules import evaluate_rules
from metadata_etl_framework_spark.sources.file_connector import FileConnector

_SCHEMA = (
    "id int, email string, phone string, amount double, qty int, "
    "status string, code string, dstr string, numstr string, "
    "start_d date, end_d date, part_a double, part_b double, "
    "created timestamp, note string"
)

# every row-rule type plus the dataset rules the pipeline path handles
RULES = [
    {"name": "nn", "type": "not_null", "column": "email"},
    {"name": "rng", "type": "value_range", "column": "amount", "min": 0, "max": 100},
    {"name": "rx", "type": "regex_pattern", "column": "code", "pattern": r"^[A-Z]{3}$"},
    {"name": "allowed", "type": "allowed_values", "column": "status",
     "allowed_values": ["open", "closed"]},
    {"name": "dfmt", "type": "date_format", "column": "dstr", "format": "yyyy-MM-dd"},
    {"name": "mail", "type": "email_format", "column": "email"},
    {"name": "tel", "type": "phone_format", "column": "phone"},
    {"name": "xf", "type": "cross_field", "field1": "amount", "field2": "qty",
     "operator": ">="},
    {"name": "sum", "type": "sum_equals", "columns": ["part_a", "part_b"],
     "expected": 10.0},
    {"name": "seq", "type": "date_sequence", "start_column": "start_d",
     "end_column": "end_d"},
    {"name": "calc", "type": "calculated_field", "field": "amount",
     "expression": "qty * 2"},
    {"name": "fresh", "type": "freshness", "column": "created",
     "max_age_hours": 24, "as_of": "2024-06-02 00:00:00"},
    {"name": "future", "type": "future_dates", "column": "created"},
    {"name": "dtype", "type": "data_type", "column": "numstr", "expected_type": "int"},
    {"name": "req", "type": "required_fields", "columns": ["email", "note"]},
    {"name": "expr", "type": "expression", "expression": "qty < 50"},
    {"name": "complete", "type": "completeness_score", "threshold": 90.0},
    {"name": "corr", "type": "correlation", "column1": "amount", "column2": "qty",
     "min_abs_corr": 0.5},
    {"name": "pk", "type": "primary_key_unique", "column": "id"},
    {"name": "uniq", "type": "unique_count", "column": "status",
     "min_unique_pct": 1.0},
]


def _rows():
    created = datetime(2024, 6, 1, 12, 0)
    rows = []
    for i in range(40):
        rows.append([
            i, f"user{i}@example.com", "555-123-4567", float(2 * i % 90),
            i % 45, "open" if i % 2 else "closed", "ABC", "2024-01-02",
            str(i), date(2024, 1, 1), date(2024, 1, 2), 4.0, 6.0, created,
            "ok",
        ])
    # planted defects, a few per rule
    rows[0][1] = None                 # nn, req
    rows[1][1] = "not-an-email"       # mail
    rows[2][2] = "12"                 # tel
    rows[3][3] = 250.0                # rng, calc
    rows[4][3] = -5.0                 # rng, xf, calc
    rows[5][6] = "abcd"               # rx
    rows[6][5] = "pending"            # allowed
    rows[7][7] = "02/01/2024"         # dfmt
    rows[8][12] = 9.0                 # sum
    rows[9][9], rows[9][10] = date(2024, 3, 1), date(2024, 2, 1)   # seq
    rows[10][13] = datetime(2024, 1, 1)                           # fresh
    rows[11][13] = datetime(2999, 1, 1)                           # future
    rows[12][8] = "twelve"            # dtype
    rows[13][14] = None               # req, completeness
    rows[14][4] = 60                  # expr
    rows[15][0] = 16                  # pk: id 16 twice
    return [tuple(r) for r in rows]


@pytest.fixture()
def store():
    return MetadataStore(":memory:")


@pytest.fixture()
def source(spark, tmp_path):
    # one file: both passes then merge the corr moments in the same order,
    # so the float score compares exactly
    path = str(tmp_path / "src")
    spark.createDataFrame(_rows(), _SCHEMA).coalesce(1).write.parquet(path)
    return path


def _pipeline(store, src, out, rules, load_type="overwrite", extra_targets=()):
    pid = store.register_pipeline(f"dq_on_load_{out.rsplit('/', 1)[-1]}")
    store.register_source(pid, "src", "parquet", {"path": src})
    store.register_transformation(
        pid, steps=[{"type": "filter", "config": {"condition": "id >= 0"}}],
        primary_source="src",
    )
    for name, path, mode in extra_targets:
        store.register_target(pid, name, "parquet", {"path": path}, load_type=mode)
    store.register_target(pid, "out", "parquet", {"path": out}, load_type=load_type)
    for rule in rules:
        store.register_dq_rule(pid, rule)
    return pid


def _standalone(spark, src, rules):
    df = spark.read.parquet(src).filter("id >= 0")
    return [r.__dict__ for r in evaluate_rules(df, rules)]


def test_observed_results_equal_standalone_pass(spark, store, source, tmp_path):
    out = str(tmp_path / "out")
    pid = _pipeline(store, source, out, RULES)
    res = OrchestratorManager(spark, store).execute_pipeline(pid)

    expected = _standalone(spark, source, RULES)
    assert res["dq"]["results"] == expected
    got = {r["rule_name"]: r["failed_rows"] for r in res["dq"]["results"]}
    # spot-check the planted counts, so parity is not vacuous
    assert got["nn"] == 1 and got["rng"] == 2 and got["req"] == 2
    assert got["pk"] == 2 and got["complete"] == 2
    assert all(r["total_rows"] == 40 for r in res["dq"]["results"])
    assert res["dq"]["row_count"] == 40
    load = store.query("SELECT * FROM LOAD_LOG")
    assert [r["rows_written"] for r in load] == [40]


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-to-group bookkeeping arrives through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_row_rules_launch_no_jobs_of_their_own(spark, store, source, tmp_path):
    mgr = OrchestratorManager(spark, store)
    plain = _pipeline(store, source, str(tmp_path / "plain"), [])
    ruled = _pipeline(store, source, str(tmp_path / "ruled"), RULES[:2])
    # warm both once so one-off planning work does not count
    mgr.execute_pipeline(plain)
    mgr.execute_pipeline(ruled)

    n_plain = _jobs_in_group(spark, "dq_on_load_plain", lambda: mgr.execute_pipeline(plain))
    n_ruled = _jobs_in_group(spark, "dq_on_load_ruled", lambda: mgr.execute_pipeline(ruled))
    assert n_plain > 0
    assert n_ruled == n_plain


def test_ignore_mode_target_falls_back_to_own_pass(spark, store, source, tmp_path):
    out = str(tmp_path / "out")
    spark.createDataFrame([(1,)], "id int").write.parquet(out)  # target exists
    rules = RULES[:2]
    pid = _pipeline(store, source, out, rules, load_type="ignore")
    res = OrchestratorManager(spark, store).execute_pipeline(pid)

    assert res["status"] == "SUCCESS"
    assert [r["total_rows"] for r in res["dq"]["results"]] == [40, 40]
    assert res["dq"]["results"] == _standalone(spark, source, rules)
    assert spark.read.parquet(out).count() == 1  # ignore kept the old data
    assert store.query("SELECT rows_written FROM LOAD_LOG") == [{"rows_written": None}]


def test_ignore_target_first_observes_on_next_target(spark, store, source, tmp_path):
    kept = str(tmp_path / "kept")
    spark.createDataFrame([(1,)], "id int").write.parquet(kept)
    out = str(tmp_path / "out")
    pid = _pipeline(store, source, out, RULES[:2],
                    extra_targets=[("kept", kept, "ignore")])
    res = OrchestratorManager(spark, store).execute_pipeline(pid)

    assert [r["total_rows"] for r in res["dq"]["results"]] == [40, 40]
    load = store.query("SELECT target_name, rows_written FROM LOAD_LOG ORDER BY log_id")
    assert load == [
        {"target_name": "kept", "rows_written": None},
        {"target_name": "out", "rows_written": 40},
    ]


def test_retried_write_observes_again(spark, store, source, tmp_path, monkeypatch):
    real_write = FileConnector.write
    calls = []

    def flaky_write(self, df, path, *args, **kwargs):
        calls.append(path)
        real_write(self, df, path, *args, **kwargs)
        if len(calls) == 1:  # the write ran, then the attempt times out
            raise TimeoutError("sink timed out after commit")

    monkeypatch.setattr(FileConnector, "write", flaky_write)
    out = str(tmp_path / "out")
    pid = _pipeline(store, source, out, RULES)
    res = OrchestratorManager(spark, store, base_delay=0.0).execute_pipeline(pid)

    assert res["status"] == "SUCCESS"
    assert len(calls) == 2
    assert res["dq"]["results"] == _standalone(spark, source, RULES)
    assert store.query("SELECT status FROM PIPELINE_RUNS") == [{"status": "SUCCESS"}]


def test_bad_rule_column_fails_run_without_retry(spark, store, source, tmp_path,
                                                 monkeypatch):
    """A rule that names a missing column fails analysis when the
    observation is attached, before the write starts: the run is FAILED
    with an ERROR_LOG row, the error is not retried, and the output is
    not written (DQ used to run after the write, so it was)."""
    built = []
    real = manager_mod.rule_aggregates
    monkeypatch.setattr(
        manager_mod, "rule_aggregates", lambda *a: built.append(1) or real(*a)
    )
    out = str(tmp_path / "out")
    pid = _pipeline(store, source, out,
                    [{"name": "bad", "type": "not_null", "column": "no_such_col"}])
    mgr = OrchestratorManager(spark, store, base_delay=0.0)
    with pytest.raises(Exception, match="no_such_col"):
        mgr.execute_pipeline(pid)

    assert len(built) == 1
    assert store.query("SELECT status FROM PIPELINE_RUNS") == [{"status": "FAILED"}]
    errors = store.query("SELECT * FROM ERROR_LOG")
    assert len(errors) == 1 and "no_such_col" in errors[0]["message"]
    assert not os.path.exists(out)
