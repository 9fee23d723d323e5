"""Iterative operators keep no superseded generation alive.

Every materializing loop under ``ops/`` runs through
``ops/materialize.py::Supersteps``, which releases each checkpoint leaf
once the next round no longer reads it. With the driver twins off (the
distributed arms), a call must leave behind only the leaves its
returned frame reads, and no cache-manager entry. A local checkpoint's
blocks are RDD-level, so ``Dataset.unpersist()`` never reached them:
before the helper, 12 rounds of label propagation left 11 generations
persisted.

The job-count pins hold each loop to one job pair per round: the probe
(a count, or the fixpoint sum) is the job that fills the round's cut.

Two one-off cuts are held to the same rule: connected_components'
entry checkpoint once its driver twin has the edges, and the leaves and
persisted ranks of rfm_segments' superseded NTILE passes.
"""

from __future__ import annotations

import pytest

from metadata_etl_framework_spark.ops import clustering, dedup, graph, retention


def _edges(spark):
    # a 40-node random graph plus a 6-edge path: the path makes k_core
    # peel more than once and connected_components iterate
    import random

    rnd = random.Random(7)
    pairs = [(rnd.randrange(40), rnd.randrange(40)) for _ in range(120)]
    pairs += [(100 + i, 101 + i) for i in range(6)]
    return spark.createDataFrame(pairs, "src long, dst long")


def _vectors(spark):
    return spark.createDataFrame(
        [(i, [float((i * 7 + j) % 11) - 5.0 for j in range(4)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )


OPS = {
    "pagerank_dangling_tol": lambda s: graph.pagerank(
        # cut every round; the tol probe at round 3 holds its reference
        # generation across the next cut
        _edges(s), iterations=4, checkpoint_every=3,
        redistribute_dangling=True, tol=1e-12,
    ),
    "pagerank_every_2": lambda s: graph.pagerank(
        _edges(s), iterations=4, checkpoint_every=2
    ),
    "label_propagation": lambda s: graph.label_propagation(
        _edges(s), iterations=12
    ),
    "closeness_sampled": lambda s: graph.closeness_sampled(
        _edges(s), [0, 1], max_hops=2
    ),
    "betweenness_sampled": lambda s: graph.betweenness_sampled(
        _edges(s), [0, 1], max_hops=2
    ),
    "hits_tol": lambda s: graph.hits(_edges(s), iterations=2, tol=1e-12),
    "greedy_modularity_move": lambda s: graph.greedy_modularity_move(
        _edges(s), rounds=2
    ),
    "louvain_two_level": lambda s: graph.louvain_two_level(_edges(s), rounds=2),
    "eigenvector_centrality": lambda s: graph.eigenvector_centrality(
        _edges(s), iterations=3
    ),
    "kmeans_assign": lambda s: clustering.kmeans_assign(
        _vectors(s), k=3, iterations=3
    ),
}


def _persisted(spark) -> set[int]:
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(i) for i in ids}


def _leaf_rdd_ids(df) -> set[int]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        int(leaves.apply(i).rdd().id())
        for i in range(leaves.length())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    }


def _assert_released(spark, name, before, out):
    left = _persisted(spark) - before
    assert left <= _leaf_rdd_ids(out), (
        f"{name}: {len(left - _leaf_rdd_ids(out))} persisted RDD(s) the "
        "result does not read"
    )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", list(OPS))
def test_loop_leaves_only_the_result_leaves(spark, gate_off, name):
    spark.catalog.clearCache()
    before = _persisted(spark)
    out = OPS[name](spark)
    assert out.collect()
    _assert_released(spark, name, before, out)


# Jobs per run with the twins off. Before the superstep helper the same
# runs took 54, 18 and 54 jobs: label propagation paid a persist, a
# count and a checkpoint copy per round, k_core a checkpoint and a
# separate count per peel; connected_components already filled a lazy
# checkpoint with its probe.
JOB_PINS = {
    "label_propagation": (
        lambda s: graph.label_propagation(_edges(s), iterations=6),
        33,
    ),
    "k_core": (lambda s: graph.k_core(_edges(s), k=3), 15),
    "connected_components": (
        lambda s: dedup.connected_components(_edges(s), src="src", dst="dst"),
        54,
    ),
}


@pytest.mark.parametrize("name", list(JOB_PINS))
def test_loop_job_counts(spark, gate_off, name):
    """The pinned jobs per run, and (as above) only the result's leaves
    left persisted."""
    fn, want = JOB_PINS[name]
    spark.catalog.clearCache()
    before = _persisted(spark)
    sc, group = spark.sparkContext, f"superstep_{name}"
    sc.setJobGroup(group, group)
    try:
        out = fn(spark)
        assert out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-to-group bookkeeping arrives through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == want
    _assert_released(spark, name, before, out)


def _reads(df) -> set[int]:
    """The persisted RDDs ``df`` reads: its checkpoint leaves and the
    buffers of the caches its plan uses."""
    ids = _leaf_rdd_ids(df)
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    for i in range(leaves.length()):
        if leaves.apply(i).nodeName() == "InMemoryRelation":
            ids.add(int(leaves.apply(i).cacheBuilder().cachedColumnBuffers().id()))
    return ids


def test_connected_components_twin_leaves_nothing_persisted(spark, monkeypatch):
    # gate on: the twin reads the whole pair frame through its entry
    # checkpoint, and the Arrow-built result reads no Spark block
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "1")
    spark.catalog.clearCache()
    before = _persisted(spark)
    out = dedup.connected_components(_edges(spark), src="src", dst="dst")
    assert out.collect()
    assert _persisted(spark) - before == set()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_rfm_segments_releases_superseded_passes(spark):
    # three stacked NTILE passes, each cut by a checkpoint leaf: only the
    # last leaf and the last pass's persisted rank are read by the result
    import datetime as dt
    import random

    rnd = random.Random(3)
    orders = spark.createDataFrame(
        [
            (rnd.randrange(40), dt.date(2024, 1, 1) + dt.timedelta(days=rnd.randrange(300)),
             round(rnd.random() * 1000, 2))
            for _ in range(400)
        ],
        "o_custkey long, o_orderdate date, o_totalprice double",
    )
    spark.catalog.clearCache()
    before = _persisted(spark)
    out = retention.rfm_segments(orders)
    assert len(out.collect()) == 40
    left = _persisted(spark) - before
    assert left <= _reads(out), (
        f"rfm_segments: {len(left - _reads(out))} persisted RDD(s) the "
        "result does not read"
    )
    assert len(left) == 2  # the last leaf and the last pass's rank
