"""Error recovery: classification, retry/backoff, circuit breaker,
quarantine.

Parity target: src/utils/error_recovery.py:30-556 (classify :184-227,
breaker :259-307, quarantine :345-398). All control
logic is driver-side; the quarantine path is the only data-plane piece —
it writes the failing rows (a rule's failure mask) as parquet so they can
be reprocessed, which at scale is a filtered write, never a collect.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import Column, DataFrame

TRANSIENT_MARKERS = (
    "timeout", "timed out", "connection reset", "connection refused",
    "temporarily unavailable", "429", "503", "broken pipe",
)
DATA_MARKERS = ("schema", "parse", "cast", "type mismatch", "divide_by_zero")
CONFIG_MARKERS = ("not found", "no such", "unknown", "missing", "keyerror")
RESOURCE_MARKERS = ("out of memory", "oom", "disk", "no space", "executor lost")


def classify_error(exc: BaseException) -> str:
    """→ transient | data | config | resource | fatal (reference :184-227)."""
    msg = f"{type(exc).__name__}: {exc}".lower()
    for cat, markers in (
        ("transient", TRANSIENT_MARKERS),
        ("resource", RESOURCE_MARKERS),
        ("data", DATA_MARKERS),
        ("config", CONFIG_MARKERS),
    ):
        if any(m in msg for m in markers):
            return cat
    return "fatal"


def retry_with_backoff(
    fn: Callable[[], Any],
    max_attempts: int = 3,
    base_delay: float = 1.0,
    backoff: float = 2.0,
    retry_on: tuple[str, ...] = ("transient", "resource"),
    sleep: Callable[[float], None] = time.sleep,
) -> Any:
    """Exponential backoff retry; non-retryable categories raise at once.
    (reference: connector_factory.py:53-70, orchestrator_manager.py:245-260)
    """
    attempt = 0
    while True:
        try:
            return fn()
        except Exception as exc:
            attempt += 1
            category = classify_error(exc)
            if category not in retry_on or attempt >= max_attempts:
                raise
            sleep(base_delay * backoff ** (attempt - 1))


@dataclass
class CircuitBreaker:
    """Per-service breaker: closed → open after N failures → half-open
    after cooldown (reference :259-307)."""

    failure_threshold: int = 5
    cooldown_sec: float = 60.0
    _failures: int = 0
    _opened_at: float | None = None

    @property
    def state(self) -> str:
        if self._opened_at is None:
            return "closed"
        if time.monotonic() - self._opened_at >= self.cooldown_sec:
            return "half_open"
        return "open"

    def call(self, fn: Callable[[], Any]) -> Any:
        if self.state == "open":
            raise RuntimeError("circuit breaker open")
        try:
            result = fn()
        except Exception:
            self._failures += 1
            if self._failures >= self.failure_threshold:
                self._opened_at = time.monotonic()
            raise
        self._failures = 0
        self._opened_at = None
        return result


def quarantine_rows(
    df: DataFrame,
    failure_mask: Column,
    quarantine_path: str,
    run_id: int | None = None,
) -> tuple[DataFrame, int]:
    """Divert failing rows to a quarantine parquet table; return the clean
    DataFrame and quarantined count (reference :345-398).

    One pass computes both sides lazily; the quarantine write is the only
    action. Clean rows stay lazy for downstream use.
    """
    from pyspark.sql import functions as F

    bad = df.filter(failure_mask)
    if run_id is not None:
        bad = bad.withColumn("_quarantine_run_id", F.lit(run_id))
    bad.write.mode("append").parquet(quarantine_path)
    n_bad = bad.sparkSession.read.parquet(quarantine_path).count()
    clean = df.filter(~failure_mask)
    return clean, n_bad


def tolerant_write(
    df: DataFrame,
    write_batch: Callable[[list[dict]], None],
    on_reject: Callable[[list[dict]], None] | None = None,
    batch_size: int = 500,
) -> dict[str, int]:
    """Row-tolerant load: batch inserts with per-row fallback on failure.

    Reference parity: the relational connector's tolerant insert path
    (src/connectors/relational_connector.py — skip bad rows, keep going).
    Semantics: rows stream off the cluster one partition at a time
    (``toLocalIterator``), ``write_batch(rows)`` loads each batch; when a
    batch raises, every row retries INDIVIDUALLY and the rows that still
    fail go to ``on_reject`` (e.g. a quarantine writer) instead of
    aborting the load.

    This is deliberately the driver-side fallback path — the fast path is
    ``df.write.jdbc`` (whole-partition parallel inserts); use this one
    when the sink rejects individual rows and the pipeline must finish.
    Returns {"written": n, "rejected": n}.
    """
    written = rejected = 0
    batch: list[dict] = []

    def flush(rows: list[dict]) -> None:
        nonlocal written, rejected
        if not rows:
            return
        try:
            write_batch(rows)
            written += len(rows)
            return
        except Exception:
            pass
        bad: list[dict] = []
        for row in rows:
            try:
                write_batch([row])
                written += 1
            except Exception:
                bad.append(row)
        rejected += len(bad)
        if bad and on_reject is not None:
            on_reject(bad)

    for r in df.toLocalIterator():
        batch.append(r.asDict(recursive=True))
        if len(batch) >= batch_size:
            flush(batch)
            batch = []
    flush(batch)
    return {"written": written, "rejected": rejected}
