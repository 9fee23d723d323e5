"""Near-dup curation runs in the JVM, once per document: linear shingles,
in-place quality scoring, an Arrow-built connected-components twin
output, and near-dup caches that are released. These tests pin the
shapes (shingle strings against a pure-Python reference, quality_filter
rows, the plan and job count of the curation chain) and that nothing
stays cached after a near-dup run."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from metadata_etl_framework_spark.catalog.store import MetadataStore
from metadata_etl_framework_spark.operators import TransformEngine
from metadata_etl_framework_spark.ops import dedup
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
    # eager jobs: shingle base count 4 (scan + repartition, cache build,
    # count's two stages), fan-out probe 3, pair self-join 2 (its two
    # shuffle stages, run by the local checkpoint), twin probe 1
    assert n_steps == 10
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
    handles = []
    pairs = dedup.minhash_near_duplicates(
        df, threshold=0.8, num_hashes=32, num_bands=8, exact_max_rows=0,
        persisted=handles,
    )
    assert len(handles) == 2  # shingle base + signatures
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    for h in handles:
        h.unpersist()
    assert _cache_empty(spark)
    # without a handles list the pairs come back materialized and
    # nothing stays cached
    owned = dedup.minhash_near_duplicates(
        df, threshold=0.8, num_hashes=32, num_bands=8, exact_max_rows=0,
    )
    assert _cache_empty(spark)
    assert {(r.id_a, r.id_b) for r in owned.collect()} == found
    assert len(found) >= 4
