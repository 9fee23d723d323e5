"""Query keys of the driver contract, one ``registry.Record`` per key.

Each family module defines its keys' Spark query functions and DuckDB
oracles and registers them; ``common`` holds what more than one family
shares. The query functions read the generated TPC-H-shaped test data
and the oracles are reference SQL, so this package sits beside the
library (``metadata_etl_framework_spark``), not inside it.

Importing the package registers every key. The families register in
the order imported below, which is the order of ``extra_queries()`` and
of the bench's headline run.
"""

from driver_keys import (  # noqa: F401  (importing a family registers it)
    relational,
    incremental,
    quality,
    drift,
    events,
    text,
    dedup,
    embed,
    stats,
    evaluation,
    graph,
    recsys,
)
from driver_keys.registry import REGISTRY, register, tagged

__all__ = ["REGISTRY", "register", "tagged"]
