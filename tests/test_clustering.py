"""Unit tests for ops/clustering.py — deterministic spherical k-means."""

from __future__ import annotations

import pytest

from metadata_etl_framework_spark.ops.clustering import (
    kmeans_assign,
    kmeans_summary,
)


def _three_blobs(spark):
    # three orthogonal directions, 5 points each, tiny perturbations;
    # ids arranged so the first-3-smallest-id seeding picks one point
    # from each blob (ids 0,1,2 are one per blob)
    dirs = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    rows = []
    vid = 0
    for i in range(5):
        for d in dirs:
            vec = [v + 0.01 * ((vid % 3) - 1) for v in d]
            rows.append((vid, vec))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_recovers_orthogonal_blobs(spark):
    df = _three_blobs(spark)
    out = kmeans_assign(df, k=3, iterations=3).collect()
    assert len(out) == 15
    # every point lands with its own blob's seed: blob of id i is i % 3
    for r in out:
        assert r["cluster"] == r["vec_id"] % 3, r
        assert r["cosine"] > 0.99


def test_kmeans_summary_shape_and_tightness(spark):
    out = kmeans_summary(_three_blobs(spark), k=3, iterations=2).collect()
    assert [r["cluster"] for r in out] == [0, 1, 2]
    assert all(r["n_points"] == 5 for r in out)
    assert all(r["avg_cosine"] > 0.99 for r in out)
    assert all(r["min_cosine"] <= r["avg_cosine"] for r in out)


def test_kmeans_deterministic(spark):
    df = _three_blobs(spark)
    a = kmeans_assign(df, k=3, iterations=2).collect()
    b = kmeans_assign(df, k=3, iterations=2).collect()
    assert a == b


def test_kmeans_explicit_seeds(spark):
    df = _three_blobs(spark)
    # seeding all three from the SAME blob still yields k clusters
    # (clusters 1 and 2 may empty out and keep their seed centroids)
    out = kmeans_assign(df, k=3, iterations=2, seed_ids=[0, 3, 6]).collect()
    assert len(out) == 15
    assert {r["cluster"] for r in out} <= {0, 1, 2}


def test_kmeans_iteration_gate(spark):
    df = _three_blobs(spark)
    with pytest.raises(ValueError, match="iterations"):
        kmeans_assign(df, k=3, iterations=100)
    with pytest.raises(ValueError, match="k must be"):
        kmeans_assign(df, k=0)


def test_gmm2_recovers_bimodal_mixture(spark):
    """Two well-separated spikes (70% at ~1.0, 30% at ~5.0): EM must
    land one component near each mode with the right weights."""
    from metadata_etl_framework_spark.ops.clustering import gmm2_train

    rows = []
    for i in range(1000):
        if i % 10 < 7:
            rows.append((1.0 + (i % 7) * 0.01,))
        else:
            rows.append((5.0 + (i % 5) * 0.01,))
    df = spark.createDataFrame(rows, "x double")
    out = {r["component"]: r for r in
           gmm2_train(df, "x", iterations=5).collect()}
    assert abs(out[1]["mu"] - 1.03) < 0.1
    assert abs(out[2]["mu"] - 5.02) < 0.1
    assert abs(out[1]["weight"] - 0.7) < 0.05
    assert abs(out[2]["weight"] - 0.3) < 0.05
    assert out[1]["sigma"] < 0.1 and out[2]["sigma"] < 0.1
    assert out[1]["n_rows"] == 1000


def test_gmm2_loglik_improves_with_iterations(spark):
    """The EM monitor: mean log-likelihood at iteration 4's entry
    must be >= iteration 1's entry (EM is monotone)."""
    from metadata_etl_framework_spark.ops.clustering import gmm2_train

    rows = [((i % 13) * 0.5 + (3.0 if i % 3 == 0 else 0.0),)
            for i in range(500)]
    df = spark.createDataFrame(rows, "x double")
    ll1 = gmm2_train(df, "x", iterations=1).first()["mean_loglik"]
    ll4 = gmm2_train(df, "x", iterations=4).first()["mean_loglik"]
    assert ll4 >= ll1


def test_gmm2_degenerate_and_gates(spark):
    from metadata_etl_framework_spark.ops.clustering import gmm2_train
    import pytest

    const = spark.createDataFrame([(2.0,)] * 10, "x double")
    out = {r["component"]: r for r in
           gmm2_train(const, "x", iterations=2).collect()}
    assert out[1]["mu"] == 2.0 and out[2]["mu"] == 2.0
    assert out[1]["sigma"] == 0.001  # sqrt(var_floor)
    one = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(ValueError, match=">= 2"):
        gmm2_train(one, "x")
    with pytest.raises(ValueError, match="iterations"):
        gmm2_train(const, "x", iterations=0)


# ---- dbscan_grid: hand-pinned two-cluster + noise fixture ----

def _dbscan_fixture(spark):
    # chain cluster (ids 1-5 at x=0,0.5,...,2.0): with eps=0.6 /
    # min_samples=3 the interior points (2,3,4) are core, the endpoints
    # border; pair cluster (10-12 spaced 0.5): only 11 is core (an
    # ISOLATED core — no core neighbor — so its own id is the cluster);
    # id 20 is far-away noise
    rows = [
        (1, 0.0, 0.0), (2, 0.5, 0.0), (3, 1.0, 0.0),
        (4, 1.5, 0.0), (5, 2.0, 0.0),
        (10, 10.0, 0.0), (11, 10.5, 0.0), (12, 11.0, 0.0),
        (20, 50.0, 0.0),
    ]
    return spark.createDataFrame(rows, "id long, x double, y double")


def test_dbscan_two_clusters_plus_noise_pinned(spark):
    from metadata_etl_framework_spark.ops.clustering import dbscan_grid

    out = {
        r["id"]: r
        for r in dbscan_grid(
            _dbscan_fixture(spark), "id", ["x", "y"],
            eps=0.6, min_samples=3,
        ).collect()
    }
    assert len(out) == 9
    expect = {
        # id: (role, cluster_id, n_neighbors)
        1: ("border", 2, 1),
        2: ("core", 2, 2),
        3: ("core", 2, 2),
        4: ("core", 2, 2),
        5: ("border", 2, 1),
        10: ("border", 11, 1),
        11: ("core", 11, 2),
        12: ("border", 11, 1),
        20: ("noise", None, 0),
    }
    for i, (role, cl, n) in expect.items():
        r = out[i]
        assert (r["role"], r["cluster_id"], r["n_neighbors"]) == (
            role, cl, n,
        ), (i, r)


def test_dbscan_duplicate_points_and_gates(spark):
    from metadata_etl_framework_spark.ops.clustering import dbscan_grid

    # three ids at the SAME coordinates: each has 2 zero-distance
    # neighbors, so with min_samples=3 all are core, one cluster (min
    # id), and the lone distant point is noise
    df = spark.createDataFrame(
        [(7, 1.0, 1.0), (8, 1.0, 1.0), (9, 1.0, 1.0), (30, 9.0, 9.0)],
        "id long, x double, y double",
    )
    out = {
        r["id"]: r
        for r in dbscan_grid(
            df, "id", ["x", "y"], eps=0.1, min_samples=3
        ).collect()
    }
    for i in (7, 8, 9):
        assert out[i]["role"] == "core"
        assert out[i]["cluster_id"] == 7
    assert out[30]["role"] == "noise"
    assert out[30]["cluster_id"] is None

    with pytest.raises(ValueError):
        dbscan_grid(df, "id", ["x", "y"], eps=0.0, min_samples=3)
    with pytest.raises(ValueError):
        dbscan_grid(df, "id", ["x", "y"], eps=0.1, min_samples=0)
    with pytest.raises(ValueError):
        dbscan_grid(df, "id", ["x", "y", "x", "y"], eps=0.1,
                    min_samples=2)


def test_dbscan_cell_boundary_pairs(spark):
    from metadata_etl_framework_spark.ops.clustering import dbscan_grid

    # points straddling a grid-cell boundary at exactly eps apart:
    # the neighbor-cell join must still find the pair (distance == eps
    # is INSIDE the neighborhood, <=), and negative coordinates floor
    # toward -inf identically in both engines
    df = spark.createDataFrame(
        [(1, -0.05, 0.0), (2, 0.05, 0.0), (3, 0.15, 0.0)],
        "id long, x double, y double",
    )
    out = {
        r["id"]: r
        for r in dbscan_grid(
            df, "id", ["x"], eps=0.1, min_samples=2
        ).collect()
    }
    # chain 1-2-3: all pairwise-adjacent at exactly 0.1 -> all core
    assert all(out[i]["role"] == "core" for i in (1, 2, 3))
    assert all(out[i]["cluster_id"] == 1 for i in (1, 2, 3))


def test_detect_dbscan_native_flags_noise_and_votes(spark):
    from metadata_etl_framework_spark.quality.anomaly import (
        detect_dbscan_native,
        ensemble_vote,
    )

    df = _dbscan_fixture(spark)
    noise = detect_dbscan_native(
        df, ["x", "y"], "id", eps=0.6, min_samples=3
    )
    assert [r["id"] for r in noise.collect()] == [20]
    # composes with ensemble_vote in the detect_sklearn output shape
    voted = ensemble_vote([noise, noise], "id", min_votes=2).collect()
    assert [r["id"] for r in voted] == [20]


def test_gmm2_driver_gate_parity(spark, monkeypatch):
    """The bounded driver fast path (one Arrow collect + vectorized
    EM) must reproduce the distributed passes bit-for-bit — same
    fixture, gate on vs forced off, exact frame equality (exercises
    the exp/log kernels and the init CASE split)."""
    import pandas as pd

    from metadata_etl_framework_spark.ops.clustering import gmm2_train

    rows = [
        (float(i % 50) / 7.0 + (40.0 if i % 3 == 0 else 0.0),)
        for i in range(900)
    ]
    df = spark.createDataFrame(rows, "x double")
    on = gmm2_train(df, "x", iterations=3).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
    off = gmm2_train(df, "x", iterations=3).toPandas()
    pd.testing.assert_frame_equal(on, off, check_exact=True)
