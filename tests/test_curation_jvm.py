"""Near-dup curation runs in the JVM, once per document: linear shingles,
in-place quality scoring, an Arrow-built connected-components twin
output, and near-dup leaves that are released. These tests pin the
shapes (shingle strings against a pure-Python reference, quality_filter
rows, the plan and job count of the curation chain), the near-dup gate's
route on both sides of its n·T bound, and that nothing stays cached or
persisted after a near-dup run."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from metadata_etl_framework_spark.catalog.store import MetadataStore
from metadata_etl_framework_spark.operators import TransformEngine
from metadata_etl_framework_spark.ops import dedup
from metadata_etl_framework_spark.ops.materialize import checkpoint_leaf, release
from metadata_etl_framework_spark.ops.text import quality_score
from metadata_etl_framework_spark.orchestrator.manager import OrchestratorManager

NEAR = {"type": "dedup", "config": {"method": "near", "threshold": 0.8}}
QUALITY = {"type": "quality_filter", "config": {"min_score": 0.3}}
CURATION = [
    NEAR,
    QUALITY,
    {"type": "sample", "config": {"mode": "fraction", "fraction": 0.7, "salt": "t"}},
    {"type": "split", "config": {"fractions": {"train": 0.8, "val": 0.1, "test": 0.1}}},
]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persisted(spark) -> set[int]:
    """Ids of the persisted RDDs: checkpoint leaves included, which the
    cache manager does not see."""
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(i) for i in ids}


def _leaf_rdd_ids(df) -> set[int]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        int(leaves.apply(i).rdd().id())
        for i in range(leaves.length())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    }


def _ref_shingles(text, n):
    """Pure-Python shingles: space-trim, lowercase, split on whitespace
    runs (a leading or trailing run leaves an empty token, as Spark's
    split does), join n consecutive tokens with one space."""
    if text is None:
        return []
    toks = re.split(r"\s+", text.strip(" ").lower())
    return sorted({" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)})


SHINGLE_TEXTS = [
    None, "", " ", "   ", "\t", "\t\n", " \n\t ", "one", "Two words",
    "three word doc", " padded  three   words ", "tab\tand\nnewline text",
    "\tleading tab", "trailing newline\n", "a b a b a b a b",
    "The the THE the the", "x y z x y z x y z w",
]


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_shingles_match_python_reference(spark, n):
    rng = random.Random(n)
    words = ["a", "b", "The", "dog", "dog!", "x"]
    seps = [" ", "  ", "\t", "\n", " \n "]
    texts = SHINGLE_TEXTS + [
        "".join(rng.choice(words) + rng.choice(seps) for _ in range(rng.randint(0, 20)))
        for _ in range(40)
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = {
        r.id: r.sh
        for r in df.select("id", dedup.shingles("text", n).alias("sh")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _ref_shingles(t, n), (n, t)
    # NULL text, and text shorter than n tokens, give the EMPTY array;
    # empty text splits into one empty token, so it is short for n > 1
    assert got[texts.index(None)] == []
    for t in ("", "   ", "one", "Two words", "three word doc"):
        if max(len(t.split()), 1) < n:
            assert got[texts.index(t)] == []


def _docs(spark):
    """40 random-vocabulary documents plus 4 near-duplicate copies (one
    word swapped: 3-gram Jaccard >= 0.85 with the original)."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)] + ["the", "and", "of", "to", "is"] * 20
    docs = [[rng.choice(vocab) for _ in range(rng.randint(40, 70))] for _ in range(40)]
    for o in range(4):
        copy = list(docs[o])
        copy[len(copy) // 2] = "swapped"
        docs.append(copy)
    rows = [
        (i + 1, "\n".join(" ".join(d[k:k + 8]) for k in range(0, len(d), 8)))
        for i, d in enumerate(docs)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def docs_src(spark, tmp_path):
    path = str(tmp_path / "docs")
    _docs(spark).coalesce(1).write.parquet(path)
    return path


def test_quality_filter_unique_ids_equal_quality_score_filtered(spark):
    df = _docs(spark)
    out = TransformEngine(spark).execute_transformations(
        {"docs": df},
        {"steps": [{"type": "quality_filter",
                    "config": {"min_score": 0.5, "keep_score": True}}]},
    )
    want = quality_score(df).filter(F.col("quality_score") >= 0.5)
    assert sorted((r.doc_id, r.quality_score) for r in out.collect()) == sorted(
        (r.doc_id, r.quality_score) for r in want.collect()
    )
    assert out.columns == df.columns + ["quality_score"]


def test_quality_filter_scores_each_row_once(spark):
    prose = " ".join(["the cat sat on the mat and it is a fine day for us"] * 20)
    junk = "{}[]()!!;;::## {}[]()"
    df = spark.createDataFrame(
        [(1, prose), (1, junk), (2, prose), (None, prose)],
        "doc_id long, text string",
    )
    out = TransformEngine(spark).execute_transformations(
        {"docs": df},
        {"steps": [{"type": "quality_filter", "config": {"min_score": 0.5}}]},
    )
    rows = sorted((r.doc_id, r.text) for r in out.collect())
    # id 1 appears twice: only its good row survives, once (an id join
    # would have kept both rows, each judged by the good row's score);
    # the NULL id is dropped, as an id join drops it
    assert rows == [(1, prose), (2, prose)]


def test_connected_components_twin_output_is_a_local_relation(spark):
    cases = [
        ("long", [(1, 2), (2, 3), (5, 6), (7, 5)], {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 5}),
        ("string", [("b", "a"), ("c", "b"), ("z", "y")],
         {"a": "a", "b": "a", "c": "a", "y": "y", "z": "y"}),
    ]
    for typ, edges, want in cases:
        pairs = spark.createDataFrame(edges, f"id_a {typ}, id_b {typ}")
        cc = dedup.connected_components(pairs)
        plan = cc._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation"
        assert cc.schema["node"].dataType == pairs.schema["id_a"].dataType
        assert {r.node: r.cluster_id for r in cc.collect()} == want
        assert all(r.is_canonical == (r.node == r.cluster_id) for r in cc.collect())


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-to-group bookkeeping arrives through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_near_dedup_chain_plan_and_job_count(spark, docs_src):
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("the pinned count includes the shingle repartition")
    spark.catalog.clearCache()  # caches other tests left behind
    engine = TransformEngine(spark)
    cfg = {"steps": [NEAR, QUALITY]}
    docs = spark.read.parquet(docs_src)

    def steps():
        return engine.execute_transformations({"docs": docs}, cfg)

    steps().collect()  # warm once so one-off planning work does not count
    out, n_steps = _jobs_in_group(spark, "curation_steps", steps)
    rows, n_force = _jobs_in_group(spark, "curation_force", out.collect)
    # the twin's output is an Arrow LocalRelation: no RDD scan, so no
    # Python worker starts when the chain runs
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan
    assert "LocalRelation" in plan
    # eager jobs: the shingle base's cut 3 (scan + repartition, the
    # leaf's fill with the (rows, shingles) aggregate's partial stage,
    # its final stage), pair self-join 2 (its two shuffle stages, run by
    # the local checkpoint), twin probe 1; n·T is under the fan-out cap,
    # so the fan-out probe does not run
    assert n_steps == 6
    # the lazy chain scans the source once: one job collects the
    # LocalRelation for the broadcast, and the anti-join plus the
    # in-place quality filter ride the scan's one job
    assert n_force == 2
    ids = {r.doc_id for r in rows}
    assert len(ids) == len(rows)
    # each planted copy or its original is gone
    assert not any({o + 1, 41 + o} <= ids for o in range(4))
    assert _cache_empty(spark)


def test_curation_pipeline_leaves_nothing_cached(spark, docs_src, tmp_path):
    spark.catalog.clearCache()  # caches other tests left behind
    store = MetadataStore(":memory:")
    pid = store.register_pipeline("curation_cache")
    store.register_source(pid, "docs", "parquet", {"path": docs_src})
    store.register_transformation(pid, steps=CURATION, primary_source="docs")
    store.register_target(pid, "out", "parquet", {"path": str(tmp_path / "out")})
    res = OrchestratorManager(spark, store).execute_pipeline(pid)
    assert res["status"] == "SUCCESS"
    assert _cache_empty(spark)


def test_lsh_regime_releases_its_caches(spark):
    spark.catalog.clearCache()
    df = _docs(spark)
    before = _persisted(spark)
    handles = []
    pairs = dedup.minhash_near_duplicates(
        df, threshold=0.8, num_hashes=32, num_bands=8, exact_max_rows=0,
        persisted=handles,
    )
    assert len(handles) == 2  # shingle base + signatures
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    for h in handles:
        release(h)
    assert _cache_empty(spark)
    assert _persisted(spark) == before
    # without a handles list the pairs come back materialized and
    # nothing but the returned leaf stays persisted
    owned = dedup.minhash_near_duplicates(
        df, threshold=0.8, num_hashes=32, num_bands=8, exact_max_rows=0,
    )
    assert _cache_empty(spark)
    assert _persisted(spark) - before == _leaf_rdd_ids(owned)
    assert len(_leaf_rdd_ids(owned)) == 1
    assert {(r.id_a, r.id_b) for r in owned.collect()} == found
    assert len(found) >= 4
    release(owned)


def test_exact_regime_leaves_only_the_returned_leaf(spark):
    df = _docs(spark)
    before = _persisted(spark)
    pairs = dedup.minhash_near_duplicates(df, threshold=0.8)
    assert _persisted(spark) - before == _leaf_rdd_ids(pairs)
    assert len(_leaf_rdd_ids(pairs)) == 1
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {
        (o + 1, 41 + o) for o in range(4)
    }
    release(pairs)


@pytest.mark.parametrize("gate", ["1", "0"])
def test_near_duplicate_clusters_releases_its_leaves(spark, monkeypatch, gate):
    # gate on: the twin's Arrow-built result reads no Spark block, so the
    # call leaves nothing persisted; gate off: only the distributed
    # components' own result leaf stays
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", gate)
    spark.catalog.clearCache()
    df = _docs(spark)
    before = _persisted(spark)
    out = dedup.near_duplicate_clusters(df, threshold=0.8)
    rows = out.collect()
    left = _persisted(spark) - before
    if gate == "1":
        assert left == set()
    else:
        assert left == _leaf_rdd_ids(out)
    assert _cache_empty(spark)
    assert {r.node: r.cluster_id for r in rows if not r.is_canonical} == {
        41 + o: o + 1 for o in range(4)
    }
    release(out)


def _boilerplate_docs(spark):
    """30 documents sharing a 12-word header (10 shingles in every doc)
    plus a random 20-word body; docs 1-3 have verbatim copies 31-33."""
    rng = random.Random(11)
    header = "please read the terms of use before you copy any part of this"
    bodies = [
        " ".join(rng.choice([f"v{i}" for i in range(300)]) for _ in range(20))
        for _ in range(30)
    ]
    bodies += bodies[:3]
    rows = [(i + 1, f"{header} {b}") for i, b in enumerate(bodies)]
    return spark.createDataFrame(rows, "doc_id long, text string"), rows


def test_near_dup_route_is_settled_by_the_bound_or_the_probe(spark, monkeypatch):
    """Σdf² ≤ n·T: a cap of at least n·T routes exact with no probe job;
    under it the fan-out probe runs and Σdf² alone decides."""
    df, rows = _boilerplate_docs(spark)
    sh = [_ref_shingles(t, 3) for _, t in rows]
    n, total = len(sh), sum(len(s) for s in sh)
    dfs: dict = {}
    for s in sh:
        for g in s:
            dfs[g] = dfs.get(g, 0) + 1
    fanout = sum(c * c for c in dfs.values())
    assert fanout < n * total

    sigs: list = []
    real = dedup.minhash_signatures

    def spy(*a, **k):
        sigs.append(1)
        return real(*a, **k)

    monkeypatch.setattr(dedup, "minhash_signatures", spy)

    def gate(cap):
        """(jobs of the gate, whether it took the LSH arm, pairs)."""
        sigs.clear()
        handles: list = []
        pairs, jobs = _jobs_in_group(
            spark, f"near_dup_gate_{cap}",
            lambda: dedup.minhash_near_duplicates(
                df, threshold=0.8, exact_max_fanout=cap, persisted=handles,
            ),
        )
        found = {(r.id_a, r.id_b) for r in pairs.collect()}
        for h in handles:
            release(h)
        return jobs, bool(sigs), found

    def cut():
        leaf, row = checkpoint_leaf(
            dedup._shingle_base(df, "doc_id", "text", 3), dedup._shingle_totals
        )
        release(leaf)
        return tuple(row)

    totals, cut_jobs = _jobs_in_group(spark, "near_dup_cut", cut)
    assert totals == (n, total)
    want = {(o + 1, 31 + o) for o in range(3)}

    jobs, lsh, found = gate(n * total)  # the bound settles it
    assert (jobs, lsh, found) == (cut_jobs, False, want)
    jobs, lsh, found = gate(n * total - 1)  # Σdf² ≤ cap < n·T: probe, exact
    assert jobs > cut_jobs and not lsh and found == want
    jobs, lsh, _ = gate(fanout)  # the probe's own boundary
    assert jobs > cut_jobs and not lsh
    jobs, lsh, found = gate(fanout - 1)  # boilerplate over the cap: LSH
    assert jobs > cut_jobs and lsh and found <= want
