"""Lineage cuts: the superstep loop of the iterative operators, and the
one-off AQE-keeping leaf.

Iterative operators cut lineage every round: a loop whose round
references the previous frame twice doubles its plan per round without
the cut (the 3-iteration eigenvector arm once analyzed to 4,793
exchanges). :class:`Supersteps` is that loop (Pregel's superstep,
Malewicz et al. 2010): it owns the cadence of the cuts, the convergence
probe and the release of superseded generations.

A cut is a ``localCheckpoint``. On Spark 4.1 both of its forms keep
adaptive execution on the computing segment: its shuffle stages run as
AQE map-stage jobs and the leaf's partitions come out coalesced (200
shuffle partitions → 1 on a 1k-row groupBy). The eager form fills the
leaf in one more job; the lazy form is filled by the first job that
reads it, so a round that needs a probe (a count, a move count, an L1
delta) runs the probe AS the fill — one job pair per round, not a fill
plus a probe. :func:`checkpoint_leaf` is the same cut for a one-off leaf
outside a loop: its probe (a row count by default, or any one-row
aggregate the caller needs) is the job that fills it.

A checkpoint leaf's blocks are RDD-level (not cache-manager entries):
``Dataset.unpersist()`` cannot reach them, and the ContextCleaner frees
them only if the JVM collects the RDD object (12 rounds of label
propagation once left 11 leaves persisted after the call). :func:`release`
unpersists them; :meth:`Supersteps.retain` does it for every generation
a loop has superseded.
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

__all__ = [
    "Supersteps", "count_rows", "release", "checkpoint_leaf", "BCAST_MAX_ROWS"
]

# Measured broadcast gate shared by the iterative-join call sites
# (graph move rounds / pagerank / eigenvector / label propagation and
# ALS half-rounds): a two-to-three-column key frame at or under this
# many rows stays comfortably inside the 8 GB broadcast hard cap and
# measured faster map-side at sf0.1; above it the equi-shuffle join is
# the right plan at fact scale. Hoisted here so the gate cannot
# silently diverge between modules when retuned.
BCAST_MAX_ROWS = 2_000_000


def _leaf_rdds(df: DataFrame) -> list:
    """The RDDs under the ``LogicalRDD`` leaves of ``df``'s analyzed
    plan — a checkpoint leaf's blocks."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [
        leaf.rdd()
        for leaf in (leaves.apply(i) for i in range(leaves.length()))
        if leaf.nodeName() == "LogicalRDD"
    ]


def count_rows(df: DataFrame) -> DataFrame:
    """The row-count probe for :meth:`Supersteps.cut`."""
    return df.agg(F.count(F.lit(1)))


def release(df: DataFrame) -> None:
    """Free the blocks of the checkpoint leaves ``df`` reads. Nothing
    may read ``df`` afterwards: a local checkpoint cannot recompute a
    dropped block."""
    for rdd in _leaf_rdds(df):
        rdd.unpersist(False)


class Supersteps:
    """The loop of an iterative operator: ``for i in steps`` runs
    ``rounds`` supersteps; :meth:`cut` materializes the round's new
    state every ``every`` rounds and at the last round (lazy in
    between) and returns its probe; :meth:`retain` names the state the
    next round reads and releases every other generation this loop cut.

    Call ``retain`` at the end of each round and once on the returned
    frame, so what outlives the call is exactly the result's leaves."""

    def __init__(self, rounds: int, every: int = 1):
        self.rounds = int(rounds)
        self.every = int(every)
        self._i: "int | None" = None  # the running round, if any
        self._cut: dict[int, object] = {}  # rdd id -> JVM RDD

    def __iter__(self) -> Iterator[int]:
        try:
            for i in range(self.rounds):
                self._i = i
                yield i
        finally:
            self._i = None

    def cut(
        self, df: DataFrame, probe: "Callable[[DataFrame], DataFrame] | None" = None
    ) -> "tuple[DataFrame, Row | None]":
        """``(leaf, row)``: ``df`` materialized as a checkpoint leaf and
        the first row of ``probe(leaf)``, a one-row aggregate whose job
        fills the leaf. Off the cadence, ``(df, None)`` unchanged; outside
        the rounds (a start frame, a second pass) every cut is due."""
        i = self._i
        if i is not None and (i + 1) % self.every and i != self.rounds - 1:
            return df, None
        leaf, row = checkpoint_leaf(df, probe)
        for rdd in _leaf_rdds(leaf):
            self._cut[rdd.id()] = rdd
        return leaf, row

    def retain(self, *frames: DataFrame) -> None:
        """Release every leaf this loop cut that none of ``frames``
        reads."""
        live = {rdd.id() for f in frames for rdd in _leaf_rdds(f)}
        for rid in [r for r in self._cut if r not in live]:
            self._cut.pop(rid).unpersist(False)


def checkpoint_leaf(
    df: DataFrame,
    probe: "Callable[[DataFrame], DataFrame] | None" = count_rows,
) -> "tuple[DataFrame, Row | None]":
    """``(leaf, row)``: ``df`` cut as a checkpoint leaf and the first row
    of ``probe(leaf)``, a one-row aggregate whose job fills the lazy leaf
    (the row count by default). Without a probe the cut is eager and
    ``row`` is None. The leaf's blocks outlive ``Dataset.unpersist()``;
    free them with :func:`release` once nothing reads the leaf."""
    leaf = df.localCheckpoint(eager=probe is None)
    return leaf, None if probe is None else probe(leaf).first()
