"""Tests of the benchmark's own machinery; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
import pytest

import eventlog
import spans
import workloads
from run import tail

FIXTURE = Path(__file__).resolve().parent / "eventlog_fixture.jsonl"


@pytest.fixture
def small_sizes(monkeypatch):
    monkeypatch.setattr(workloads, "STAR_FACT_ROWS", 5_000)
    monkeypatch.setattr(workloads, "DQ_ROWS", 12_000)
    monkeypatch.setattr(workloads, "CURATION_DOCS", 200)
    monkeypatch.setattr(workloads, "CURATION_NEAR_DUPS", 20)


def _tables(inputs: workloads.Inputs) -> list:
    return [pq.read_table(s.path) for s in inputs.sources]


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_generator_is_deterministic_per_seed(name, small_sizes, tmp_path):
    gen = workloads.WORKLOADS[name].generate
    a, b, c = gen(tmp_path / "a", 7), gen(tmp_path / "b", 7), gen(tmp_path / "c", 8)
    assert [s.rows for s in a.sources] == [s.rows for s in b.sources]
    assert a.truth == b.truth
    assert all(x.equals(y) for x, y in zip(_tables(a), _tables(b)))
    assert not all(x.equals(y) for x, y in zip(_tables(a), _tables(c)))
    assert all(s.rows == workloads.parquet_rows(s.path) for s in a.sources)
    assert all(s.bytes_on_disk > 0 for s in a.sources)


def test_dq_planted_counts_match_a_recount(small_sizes, tmp_path):
    inputs = workloads.generate_dq(tmp_path, 3)
    df = pq.read_table(inputs.sources[0].path).to_pandas()
    want = inputs.truth["failed_rows"]
    assert want["email_not_null"] == df["email"].isna().sum()
    assert want["age_range"] == ((df["age"] < 0) | (df["age"] > 120)).sum()
    assert want["contact_required"] == df[["name", "email", "country"]].isna().any(axis=1).sum()
    assert want["id_unique"] == df["id"].duplicated(keep=False).sum()
    assert want["row_duplicates"] == df.duplicated(keep=False).sum()
    assert want["id_distinct"] == len(df) - df["id"].nunique()
    assert want["completeness"] == df[workloads.DQ_COMPLETENESS_COLUMNS].isna().sum().sum()


def test_curation_planted_pairs_are_near_duplicates(small_sizes, tmp_path):
    inputs = workloads.generate_curation(tmp_path, 5)
    t = pq.read_table(inputs.sources[0].path).to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))

    def grams(doc: str) -> set:
        words = doc.split()
        return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}

    assert len(inputs.truth["planted_pairs"]) == 20
    for a, b in inputs.truth["planted_pairs"]:
        ga, gb = grams(text[a]), grams(text[b])
        assert len(ga & gb) / len(ga | gb) >= 0.8


def _span(sid, parent, start, end, layer="x"):
    return spans.Span(sid, parent, layer, 0, start, end)


def test_self_time_subtracts_only_direct_children():
    tree = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),
        _span(3, 0, 5.0, 6.5),
        _span(4, 3, 5.0, 6.5),  # covers its parent entirely
    ]
    assert spans.self_times(tree) == pytest.approx({0: 5.5, 1: 2.0, 2: 1.0, 3: 0.0, 4: 1.5})


def test_union_length_merges_overlaps():
    assert spans.union_length([(0, 2), (1, 3), (5, 6), (6, 7), (4, 4)]) == 5


class _FakeContext:
    def __init__(self):
        self.calls: list = []

    def setLocalProperty(self, key, value):  # noqa: N802 - SparkContext API
        self.calls.append((key, value))


class _Layered:
    def outer(self, inner):
        return inner.inner() + 1

    def inner(self):
        return 1


def test_tracer_sets_and_restores_job_groups():
    sc = _FakeContext()
    tracer = spans.Tracer(sc)
    tracer.install([(_Layered, "outer", "orchestrator"), (_Layered, "inner", "catalog")])
    try:
        obj = _Layered()
        assert obj.outer(obj) == 2
        assert tracer.spans == [] and sc.calls == []  # off outside operations
        tracer.op = 0
        assert obj.outer(obj) == 2
    finally:
        tracer.uninstall()
    assert _Layered.outer.__name__ == "outer" and not hasattr(_Layered.outer, "__wrapped__")
    assert [(s.span_id, s.parent, s.layer) for s in tracer.spans] == [
        (0, None, "orchestrator"), (1, 0, "catalog")]
    g = spans.JOB_GROUP
    assert sc.calls == [(g, "perfbench-span-0"), (g, "perfbench-span-1"),
                        (g, "perfbench-span-0"), (g, None)]


def test_event_log_parser_reads_fixture():
    with FIXTURE.open() as f:
        groups = eventlog.parse(f)
    g = groups["perfbench-span-3"]
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks) == (1, 2, 3, 1)
    assert g.executor_cpu_s == pytest.approx(0.023)
    assert g.gc_s == pytest.approx(0.002)
    assert (g.input_bytes, g.shuffle_write_bytes, g.spill_bytes) == (4000, 500, 1024)
    assert g.job_intervals == [(2000, 2110)]
    assert dict(g.stage_task_ms) == {(0, 0): [20, 80], (1, 0): [5]}
    assert eventlog.task_skew(g.stage_task_ms) == pytest.approx(80 / 50)
    assert g.input_records == 15
    other = groups[None]
    assert (other.jobs, other.tasks, other.input_bytes) == (1, 1, 700)


def test_tail_needs_ten_samples_beyond_p90():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert tail([float(i) for i in range(1, 41)]) == (40.0, 100.0)  # p75 is not a tail
    assert tail([float(i) for i in range(1, 201)]) == (190.0, 95.0)
