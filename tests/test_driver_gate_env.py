"""Driver-gate contract tests.

1. ``SPARK_GRAFT_DRIVER_GATE`` is the one switch for every driver
   twin: with it at 0 each env-gated operator must run its
   DISTRIBUTED arm and produce bit-identical results — the twins are
   exact replicas, so toggling the venue may never change a value.
   A spy on the ``driver_table`` seam proves the twin arm really ran
   with the gate on (else both arms would be distributed and the
   comparison vacuous) and never with it off.
2. ``round_half_up_int64``'s vectorized tie-band branch is fuzzed
   against the exact scalar Decimal path (the regression test the
   r16 ADVICE found missing).
3. ``_cox_np_safe`` carries the SQUARED covariate magnitude in its
   term cap (ADVICE: the information-matrix terms scale with
   n·|x|max², and the old linear cap approved driver passes that then
   crashed in ``cast_decimal_i64`` where the distributed DECIMAL(28,10)
   pass would have succeeded).
4. ``recommend_items`` SUMS both rows of a model holding (a,b) and
   (b,a) — the symmetrize-union semantics.
"""

from __future__ import annotations

import sys

import numpy as np
import pytest

from metadata_etl_framework_spark.functions.aggregations import (
    robust_moments,
)
from metadata_etl_framework_spark.ops import driver_exact
from metadata_etl_framework_spark.ops.clustering import gmm2_train
from metadata_etl_framework_spark.ops.dedup import connected_components
from metadata_etl_framework_spark.ops.driver_exact import (
    _round0_exact,
    driver_gates_enabled,
    round_half_up_int64,
)
from metadata_etl_framework_spark.ops.glm import (
    huber_train,
    logistic_cv,
    quantile_train,
)
from metadata_etl_framework_spark.ops.graph import (
    betweenness_sampled,
    eigenvector_centrality,
    greedy_modularity_move,
    label_propagation,
    louvain_two_level,
    pagerank,
    pmi_embeddings,
    random_walks,
    walk_cooccurrence,
)
from metadata_etl_framework_spark.ops.recsys import (
    als_factorize,
    item_item_cosine,
    recommend_items,
)
from metadata_etl_framework_spark.ops.retention import (
    _cox_np_safe,
    cox_ph,
    cox_ph_multi,
)
from metadata_etl_framework_spark.ops.similarity import lof_scores_bucketed
from metadata_etl_framework_spark.ops.stats import spearman_corr
from metadata_etl_framework_spark.ops.text import bpe_train


def test_env_default_is_on(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_GATE", raising=False)
    assert driver_gates_enabled()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "1")
    assert driver_gates_enabled()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
    assert not driver_gates_enabled()


def test_round_half_up_int64_fuzz_near_ties():
    """Vectorized band decision vs the exact scalar path, concentrated
    on .5 ties across magnitudes (the r16 ADVICE's missing test)."""
    rng = np.random.default_rng(20260818)
    parts = []
    for mag in (1e0, 1e3, 1e6, 1e9, 1e12, 1e14, 1e15, 4e17):
        base = np.floor(rng.uniform(0, mag, 40_000))
        # exact .5 ties, near-ties a few ulp off, and random fractions
        frac = np.concatenate(
            [
                np.full(10_000, 0.5),
                0.5 + rng.integers(-8, 9, 10_000) * np.spacing(mag),
                rng.uniform(0, 1, 20_000),
            ]
        )
        v = base + frac
        sign = rng.choice([-1.0, 1.0], v.size)
        parts.append(sign * v)
    x = np.concatenate(parts)
    x = x[np.abs(x) < 4.0e18]
    got = round_half_up_int64(x)
    # scalar reference on a deterministic sample (full 2.2M-element
    # scalar sweep would dominate the suite)
    idx = rng.choice(x.size, 25_000, replace=False)
    ref = np.array([_round0_exact(float(v)) for v in x[idx]])
    mism = np.nonzero(got[idx] != ref)[0]
    assert mism.size == 0, (
        f"{mism.size} mismatches, first: x={x[idx[mism[0]]]!r} "
        f"vec={got[idx[mism[0]]]} scalar={ref[mism[0]]}"
    )


def test_cox_np_safe_squared_magnitude_bound():
    # n=20k subjects, |x|max=200: information terms reach
    # n·maxax² = 8e8 > the 4e8 cast_decimal_i64 term domain — the
    # driver pass must be rejected (the distributed DECIMAL(28,10)
    # pass handles it)
    assert not _cox_np_safe(20_000, 200.0, 0.0)
    # O(1)-scaled covariates stay on the fast path
    assert _cox_np_safe(20_000, 1.0, 0.0)
    assert _cox_np_safe(1_000_000, 1.0, 0.0)


def _edges(spark):
    ring = [(i, (i + 1) % 24) for i in range(24)] + [
        (i, (i + 7) % 24) for i in range(0, 24, 3)
    ]
    return spark.createDataFrame(ring, "src long, dst long")


def _numeric(spark):
    rows = [
        (
            i,
            float(i % 7) / 3.0,
            float((i * 5) % 11),
            1.0 * (i % 2),
            1 + (i * 7) % 60,
            1 if (i * 13) % 5 > 1 else 0,
            "A" if i % 3 == 0 else "B",
        )
        for i in range(400)
    ]
    return spark.createDataFrame(
        rows,
        "rid long, x1 double, x2 double, y double, t long, e int, "
        "g string",
    )


def _walks(spark):
    return random_walks(_edges(spark), walk_length=4, seed=3)


def _cooc(spark):
    return walk_cooccurrence(_walks(spark), window=2)


def _interactions(spark):
    return spark.createDataFrame(
        [(i % 37, f"it{(i * 7) % 11}") for i in range(500)],
        "u long, i string",
    )


def _als(spark):
    ratings = spark.createDataFrame(
        [(i % 25, (i * 3) % 20, float(i % 9) - 2.5) for i in range(300)],
        "u int, i int, r double",
    )
    uf, itf = als_factorize(ratings, "u", "i", "r", rounds=2, reg=0.1)
    return uf.union(itf)


def _lof(spark):
    rows = [
        (i, [float((i * 7 + j * 13) % 19) / 19.0 - 0.5 for j in range(4)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return lof_scores_bucketed(df, k=4, n_planes=4)


def _bpe(spark):
    docs = spark.createDataFrame(
        [(0, "low lower lowest low"), (1, "new newer newest low new")],
        "doc_id long, text string",
    )
    return bpe_train(docs, n_merges=5)


# Every operator with a driver twin, each on a fixture small enough to
# sit under its twin's cap.
GATED = {
    "huber_train": lambda s: huber_train(
        _numeric(s), ["x1", "x2"], "t", iterations=2
    ),
    "quantile_train": lambda s: quantile_train(
        _numeric(s), ["x1"], "x2", iterations=2
    ),
    "logistic_cv": lambda s: logistic_cv(
        _numeric(s), ["x1", "x2"], "y", "rid", n_folds=3, iterations=2
    ),
    "gmm2_train": lambda s: gmm2_train(_numeric(s), "x2", iterations=2),
    "spearman_corr": lambda s: spearman_corr(_numeric(s), "x1", "x2"),
    "robust_moments": lambda s: robust_moments(_numeric(s), "x2"),
    "cox_ph": lambda s: cox_ph(_numeric(s), "t", "e", "x1", iterations=2),
    "cox_ph_multi": lambda s: cox_ph_multi(
        _numeric(s), "t", "e", ["x1", "x2"], iterations=2, strata_col="g"
    ),
    "lof_scores_bucketed": _lof,
    "item_item_cosine": lambda s: item_item_cosine(
        _interactions(s), "u", "i", min_cooc=2, shrinkage=5.0,
        top_k_per_item=3,
    ),
    "als_factorize": _als,
    "pagerank": lambda s: pagerank(_edges(s), iterations=3),
    "label_propagation": lambda s: label_propagation(
        _edges(s), iterations=3
    ),
    "random_walks": _walks,
    "walk_cooccurrence": _cooc,
    "pmi_embeddings": lambda s: pmi_embeddings(_cooc(s), rounds=2),
    "betweenness_sampled": lambda s: betweenness_sampled(
        _edges(s), [0, 5], max_hops=4
    ),
    "greedy_modularity_move": lambda s: greedy_modularity_move(
        _edges(s), rounds=2
    ),
    "louvain_two_level": lambda s: louvain_two_level(_edges(s), rounds=2),
    "eigenvector_centrality": lambda s: eigenvector_centrality(
        _edges(s), iterations=3
    ),
    "connected_components": lambda s: connected_components(
        _edges(s), src="src", dst="dst"
    ),
    "bpe_train": _bpe,
}


@pytest.fixture()
def seam_spy(monkeypatch):
    """Wrap the ``driver_table`` seam wherever the package bound it;
    the returned list records, per call, whether it handed a table to
    a twin."""
    real = driver_exact.driver_table
    handed: list = []

    def spy(*args, **kwargs):
        tbl = real(*args, **kwargs)
        handed.append(tbl is not None)
        return tbl

    for name, mod in list(sys.modules.items()):
        if (
            name.startswith("metadata_etl_framework_spark")
            and getattr(mod, "driver_table", None) is real
        ):
            monkeypatch.setattr(mod, "driver_table", spy)
    return handed


@pytest.mark.parametrize("op", sorted(GATED))
def test_gate_env_forces_distributed_identical(
    spark, monkeypatch, seam_spy, op
):
    """The operator's output with the env gate OFF (distributed arm)
    must match the twin's (gate ON) bit-for-bit: rows compare by
    ``repr``, so every float digit and every NULL must agree. The
    seam must hand a twin its table at least once with the gate on,
    and never with it off."""

    def rows():
        return sorted(repr(tuple(r)) for r in GATED[op](spark).collect())

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "1")
    on = rows()
    assert any(seam_spy), f"{op}: no driver twin engaged with the gate on"
    seam_spy.clear()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
    assert rows() == on
    assert not any(seam_spy)
    assert on


def test_recommend_items_sums_bidirectional_model(spark):
    """A sims model carrying BOTH (a,b) and (b,a) scores each
    candidate with the SUM of both rows, exactly as the symmetrized
    union of the model joins it."""
    # seen: u1 {10}, u2 {20}, u3 {10, 20}, u4 {10}
    inter = spark.createDataFrame(
        [(u, i) for u in range(1, 5) for i in (10, 20) if (u + i) % 3],
        "user long, item long",
    )
    sims = spark.createDataFrame(
        [(10, 20, 0.25), (20, 10, 0.5), (10, 30, 0.125)],
        "item_a long, item_b long, shrunk_cosine double",
    )
    got = [
        tuple(r)
        for r in recommend_items(
            inter, sims, "user", "item", top_n=3
        ).collect()
    ]
    assert got == [
        (1, 20, 0.75, 1),
        (1, 30, 0.125, 2),
        (2, 10, 0.75, 1),
        (3, 30, 0.125, 1),
        (4, 20, 0.75, 1),
        (4, 30, 0.125, 2),
    ]
