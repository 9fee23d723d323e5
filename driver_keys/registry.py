"""One record per query key: its Spark query, its DuckDB oracle, its tags.

A key is declared exactly once, with ``register``, in the family module
of its operator. The driver contract (``__spark_entry__.py``) and the
bench harness (``bench.py``) derive everything else from ``REGISTRY``,
so adding, retagging or retiring a key is one edit in one place.
Registering a key a second time raises at import.

Tags:

- ``headline``: ``bench.py`` times the key on every run;
- ``gated``: ``bench.py`` also times it with ``SPARK_GRAFT_DRIVER_GATE=0``,
  because a driver twin sits on its operator chain. Every gated key is a
  headline key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

TAGS = frozenset({"headline", "gated"})


@dataclass(frozen=True)
class Record:
    build: Callable[[SparkSession, str], DataFrame]
    # DuckDB SQL replaying the key exactly; None for a rows-only key
    oracle: str | None
    tags: frozenset[str]


REGISTRY: dict[str, Record] = {}


def register(key: str, *, build, oracle: str | None, tags=()) -> None:
    if key in REGISTRY:
        raise ValueError(f"query key {key!r} is registered twice")
    unknown = set(tags) - TAGS
    if unknown:
        raise ValueError(f"query key {key!r}: unknown tags {sorted(unknown)}")
    REGISTRY[key] = Record(build, oracle, frozenset(tags))


def oracle_of(key: str) -> str:
    """The oracle SQL of an already registered key, for an oracle that
    embeds another key's oracle as a subquery."""
    sql = REGISTRY[key].oracle
    if sql is None:
        raise ValueError(f"query key {key!r} is rows-only: it has no oracle")
    return sql


def tagged(tag: str) -> list[str]:
    """Keys carrying ``tag``, in registration order."""
    if tag not in TAGS:
        raise ValueError(f"unknown tag {tag!r}")
    return [k for k, r in REGISTRY.items() if tag in r.tags]
