"""The one eager-materialization helper — the AQE-keeping lineage cut.

A bare ``df.localCheckpoint(eager=True)`` executes the segment through
``.rdd``, which compiles WITHOUT adaptive query execution: no runtime
SMJ→BHJ conversion, no partition coalescing, no skew splitting. The
round-13 measurement on the benched dangling-PageRank arm put the
penalty at ~1.6× (7.5 s vs 4.6 s at sf0.1). The hybrid below runs the
segment through the SQL path FIRST (persist + count, AQE on), then
checkpoints the cached blocks — the non-AQE compile applies only to a
cache read, and the returned frame's plan is a leaf.

Iterative operators cut lineage with it every round: a loop whose round
references the previous frame twice doubles its plan per round without
the cut (the 3-iteration eigenvector arm once analyzed to 4,793
exchanges), and the hybrid measured faster than persist-only on the
dangling-PageRank A/B (3.69 s vs 6.8 s at sf0.1). The persist job's
count comes back with the leaf, so a loop that probes the new frame for
emptiness or size reads it instead of running another job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["checkpoint_leaf", "BCAST_MAX_ROWS"]

# Measured broadcast gate shared by the iterative-join call sites
# (graph move rounds / pagerank / eigenvector / label propagation and
# ALS half-rounds): a two-to-three-column key frame at or under this
# many rows stays comfortably inside the 8 GB broadcast hard cap and
# measured faster map-side at sf0.1; above it the equi-shuffle join is
# the right plan at fact scale. Hoisted here so the gate cannot
# silently diverge between modules when retuned.
BCAST_MAX_ROWS = 2_000_000


def checkpoint_leaf(df: DataFrame) -> "tuple[DataFrame, int]":
    """Eagerly materialize ``df`` and cut its lineage, keeping AQE on
    the computing segment (see module docstring). Returns ``(leaf,
    rows)``: the checkpoint leaf and its row count, which the persist
    job computes anyway. The leaf's blocks are RDD-level (not
    cache-manager entries), so ``Dataset.unpersist()`` cannot release
    them — the ContextCleaner frees them as references drop."""
    cached = df.persist()
    rows = cached.count()
    out = cached.localCheckpoint()
    cached.unpersist()
    return out, rows
