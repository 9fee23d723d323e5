"""Layer spans recorded from outside the program.

The tracer replaces each public entry point named in ``entry_points``
with a wrapper that records a span (layer, start, end, parent) and tags
the Spark jobs launched inside it with a job group of its own, so the
event log can attribute jobs, stages and tasks to exactly one span. Spans
are recorded only while an operation is marked as traced; every other call
goes straight through.
"""

from __future__ import annotations

import functools
import inspect
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from time import perf_counter
from typing import Any, Iterable, Iterator

from eventlog import JOB_GROUP

GROUP_PREFIX = "perfbench-span-"

LAYERS = ("catalog", "sources.read", "sources.write", "operators", "ops", "quality",
          "lineage", "monitoring", "orchestrator")


@dataclass
class Span:
    span_id: int
    parent: int | None
    layer: str
    op: int
    start: float
    end: float = 0.0


def group_of(span_id: int) -> str:
    return f"{GROUP_PREFIX}{span_id}"


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: Iterable[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its direct children cover."""
    spans = list(spans)
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    return {
        s.span_id: (s.end - s.start) - union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in children[s.span_id]
        )
        for s in spans
    }


def entry_points() -> list[tuple[Any, str, str]]:
    """(owner, attribute, layer) for every public entry point that is traced."""
    from metadata_etl_framework_spark.catalog.store import ConfigLoader, MetadataStore
    from metadata_etl_framework_spark.monitoring.alerts import AlertManager
    from metadata_etl_framework_spark.monitoring.audit import AuditLogger
    from metadata_etl_framework_spark.monitoring.sla import SLAMonitor
    from metadata_etl_framework_spark.operators import TransformEngine
    from metadata_etl_framework_spark.ops import corpus, dedup, text
    from metadata_etl_framework_spark.orchestrator import manager
    from metadata_etl_framework_spark.sources.file_connector import FileConnector
    from metadata_etl_framework_spark.utils.lineage import LineageTracker

    lineage = [name for name, fn in vars(LineageTracker).items()
               if inspect.isfunction(fn) and not name.startswith("_")]
    return [
        (ConfigLoader, "load_pipeline_metadata", "catalog"),
        # MetadataStore.insert runs through execute, so execute + query
        # cover every catalog statement once
        (MetadataStore, "execute", "catalog"),
        (MetadataStore, "query", "catalog"),
        (FileConnector, "read", "sources.read"),
        (FileConnector, "write", "sources.write"),
        (TransformEngine, "execute_transformations", "operators"),
        # the ops functions the curation steps import at call time
        (dedup, "minhash_near_duplicates", "ops"),
        (dedup, "connected_components", "ops"),
        (text, "fingerprint", "ops"),
        (text, "quality_score", "ops"),
        (corpus, "md5_uniform", "ops"),
        (corpus, "weighted_sample", "ops"),
        (corpus, "leakage_safe_split", "ops"),
        # the orchestrator calls the name it imported
        (manager, "evaluate_rules", "quality"),
        *[(LineageTracker, name, "lineage") for name in lineage],
        (SLAMonitor, "record_run", "monitoring"),
        (AuditLogger, "log", "monitoring"),
        (AlertManager, "send", "monitoring"),
        (manager.OrchestratorManager, "execute_pipeline", "orchestrator"),
        (manager.OrchestratorManager, "backfill", "orchestrator"),
    ]


class Tracer:
    """Records spans for the operation named in ``op`` (``None``: off)."""

    def __init__(self, spark_context: Any):
        self.sc = spark_context
        self.op: int | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []

    def install(self, points: Iterable[tuple[Any, str, str]]) -> None:
        for owner, attr, layer in points:
            original = getattr(owner, attr)
            setattr(owner, attr, self._wrap(original, layer))
            self._patches.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.op is None:
                return fn(*args, **kwargs)
            with tracer.span(layer):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def span(self, layer: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.span_id if parent else None, layer, self.op,
                 perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(JOB_GROUP, group_of(s.span_id))
        try:
            yield s
        finally:
            s.end = perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, group_of(parent.span_id) if parent else None)
