"""Unit tests for lof_scores / centroid_silhouette (ops/similarity.py)."""

from __future__ import annotations

import pytest

from metadata_etl_framework_spark.ops.similarity import (
    centroid_silhouette,
    lof_scores,
)


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def _cluster(base, n, eps):
    # n near-copies of `base`, tiny deterministic perturbations
    out = []
    for i in range(n):
        out.append([v + eps * ((i % 3) - 1) for v in base])
    return out


def test_lof_flags_planted_density_outlier(spark):
    # two tight clusters + one isolated point far from both
    rows = []
    vid = 0
    for base in ([1.0, 0.0, 0.0, 0.1], [0.0, 1.0, 0.0, 0.1]):
        for v in _cluster(base, 8, 0.01):
            rows.append((vid, v, 0))
            vid += 1
    rows.append((vid, [-1.0, -1.0, 1.0, -0.5], 9))
    out = {r["vec_id"]: r for r in
           lof_scores(_vecs(spark, rows), k=3).collect()}
    assert len(out) == 17
    outlier = out[vid]
    inliers = [out[i] for i in range(vid)]
    # the isolated point's LOF dominates every cluster member's
    assert outlier["lof"] > max(r["lof"] for r in inliers)
    assert outlier["is_outlier"]
    # cluster members sit near LOF ~ 1 (density matches their region)
    assert all(r["lof"] < 1.5 for r in inliers)


def test_lof_exact_max_rows_gate(spark):
    df = _vecs(spark, [(i, [1.0, 0.0], 0) for i in range(30)])
    with pytest.raises(ValueError, match="exact_max_rows"):
        lof_scores(df, k=2, exact_max_rows=10)


def test_silhouette_separated_vs_merged(spark):
    # labels 0/1 well separated; label 2 drawn from the SAME
    # distribution as label 0 (coincident centroids): separated
    # clusters score high, the merged pair collapses toward 0
    rows = []
    vid = 0
    for lbl, base in ((0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]),
                      (2, [1.0, 0.0, 0.0])):
        for v in _cluster(base, 6, 0.01):
            rows.append((vid, v, lbl))
            vid += 1
    out = {r["label"]: r for r in
           centroid_silhouette(_vecs(spark, rows), "label").collect()}
    assert set(out) == {0, 1, 2}
    assert all(r["n_points"] == 6 for r in out.values())
    assert out[1]["avg_silhouette"] > 0.5       # clean separation
    assert abs(out[2]["avg_silhouette"]) < 0.1  # merged with cluster 0
    assert abs(out[0]["avg_silhouette"]) < 0.1
    # a(i) (own-centroid distance) is tiny for every tight cluster
    assert all(r["avg_a"] < 0.01 for r in out.values())


def test_silhouette_max_groups_gate(spark):
    rows = [(i, [float(i), 1.0], i) for i in range(20)]
    with pytest.raises(ValueError, match="max_groups"):
        centroid_silhouette(_vecs(spark, rows), "label", max_groups=5)

def test_lof_small_corpus_uses_actual_neighbor_count(spark):
    # n=3, k=5: every point has only 2 neighbors — the |N_k(p)|
    # denominator must be 2, not the constant k (round-12 advice).
    # Equilateral-ish geometry: every pairwise distance d is equal, so
    # kdist=d, reach=d, lrd=2/(2d)=1/d, avg neighbor lrd = 1/d, LOF=1.
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0], 0),
        (2, [0.0, 0.0, 1.0], 0),
    ]
    out = {r["vec_id"]: r for r in
           lof_scores(_vecs(spark, rows), k=5).collect()}
    assert len(out) == 3
    for r in out.values():
        assert r["lof"] == 1.0
        assert not r["is_outlier"]
        # with the old k denominator lrd would be 5/(2d) and the
        # neighbor mean 2*(k/2d)/k = 1/d — lof 0.4, biased low
        assert r["lrd"] == round(2.0 / (2 * r["k_dist"]), 8)


def test_lof_null_rows_filtered(spark):
    rows = [(0, [1.0, 0.0], 0), (1, [0.9, 0.1], 0), (2, [0.0, 1.0], 0),
            (None, [1.0, 1.0], 0), (3, None, 0)]
    out = lof_scores(_vecs(spark, rows), k=2).collect()
    assert {r["vec_id"] for r in out} == {0, 1, 2}


def test_lof_bucketed_zero_planes_equals_exact(spark):
    from metadata_etl_framework_spark.ops.similarity import (
        lof_scores_bucketed,
    )

    rows = []
    vid = 0
    for base in ([1.0, 0.0, 0.0, 0.1], [0.0, 1.0, 0.0, 0.1]):
        for v in _cluster(base, 8, 0.01):
            rows.append((vid, v, 0))
            vid += 1
    rows.append((vid, [-1.0, -1.0, 1.0, -0.5], 9))
    df = _vecs(spark, rows)
    exact = sorted(map(tuple, lof_scores(df, k=3).collect()))
    buck = sorted(
        map(tuple, lof_scores_bucketed(df, k=3, n_planes=0).collect())
    )
    assert buck == exact


def test_lof_bucketed_recall_audit_and_singletons(spark):
    """Recall audit (round-12 verdict task 5): on two tight antipodal
    clusters the hyperplane buckets separate them perfectly, so the
    bucketed kNN recovers the exact neighbor sets and the planted
    outlier still dominates; a point alone in its bucket emits the
    all-null row instead of disappearing."""
    from metadata_etl_framework_spark.ops.similarity import (
        lof_scores_bucketed,
        lof_scores,
    )

    rows = []
    vid = 0
    for base in ([1.0, 0.0, 0.0, 0.1], [-1.0, 0.5, 0.0, -0.1]):
        for v in _cluster(base, 10, 0.01):
            rows.append((vid, v, 0))
            vid += 1
    df = _vecs(spark, rows)
    exact_nn = {
        (r["vec_id"],) for r in lof_scores(df, k=3).collect()
    }
    out = lof_scores_bucketed(df, k=3, n_planes=2).collect()
    assert {(r["vec_id"],) for r in out} == exact_nn
    # recall: per-point LOF within the clusters should match exact
    # wherever the bucket held the whole cluster (deterministic here)
    exact = {r["vec_id"]: r["lof"]
             for r in lof_scores(df, k=3).collect()}
    # duplicate points (the i%3 perturbation repeats vectors) have
    # degenerate Σreach=0 neighborhoods → null lof on BOTH paths;
    # null==null is agreement
    agree = sum(1 for r in out if exact[r["vec_id"]] == r["lof"])
    assert agree == len(out), (agree, len(out))

def test_lof_bucketed_singleton_bucket_emits_null_row(spark):
    from metadata_etl_framework_spark.ops.similarity import (
        lof_scores_bucketed,
    )

    # antipodal pair with 1 plane: each point is ALONE in its bucket
    rows = [(0, [1.0, 0.2], 0), (1, [-1.0, -0.2], 0)]
    out = {r["vec_id"]: r for r in
           lof_scores_bucketed(_vecs(spark, rows), k=2,
                               n_planes=1).collect()}
    assert set(out) == {0, 1}
    for r in out.values():
        assert r["lof"] is None and r["k_dist"] is None
        assert r["is_outlier"] is False  # null-safe flag


def test_auc_delong_matches_direct_reference(spark):
    """Round-13: DeLong AUC SE from exact integer grid moments must
    equal the direct per-row structural-component computation
    (placements enumerated in plain Python), ties included."""
    import math

    from metadata_etl_framework_spark.ops.evaluation import auc_delong

    pairs = [((i * 13) % 37 / 5.0, (i % 3 == 0) or (i % 7 == 1))
             for i in range(200)]
    pos = [s for s, y in pairs if y]
    neg = [s for s, y in pairs if not y]
    m, n = len(pos), len(neg)
    v10 = [
        (sum(1 for t in neg if t < s)
         + 0.5 * sum(1 for t in neg if t == s)) / n
        for s in pos
    ]
    v01 = [
        (sum(1 for t in pos if t > s)
         + 0.5 * sum(1 for t in pos if t == s)) / m
        for s in neg
    ]
    auc = sum(v10) / m
    s10 = sum((v - auc) ** 2 for v in v10) / (m - 1)
    s01 = sum((v - auc) ** 2 for v in v01) / (n - 1)
    se = math.sqrt(s10 / m + s01 / n)
    got = auc_delong(
        spark.createDataFrame(pairs, "s double, y boolean"), "s", "y"
    ).collect()[0]
    assert got["n_pos"] == m and got["n_neg"] == n
    assert abs(got["auc"] - auc) < 1e-6
    assert abs(got["se"] - se) < 1e-6
    assert got["ci_lo"] <= got["auc"] <= got["ci_hi"]


def test_auc_delong_degenerate_classes(spark):
    from metadata_etl_framework_spark.ops.evaluation import auc_delong

    one_pos = [(float(i), i == 0) for i in range(10)]
    got = auc_delong(
        spark.createDataFrame(one_pos, "s double, y boolean"),
        "s", "y",
    ).collect()[0]
    assert got["auc"] is not None and got["se"] is None
    empty = auc_delong(
        spark.createDataFrame(
            [(1.0, True)], "s double, y boolean"
        ),
        "s", "y",
    ).collect()[0]
    assert empty["n_neg"] == 0 and empty["auc"] is None


def test_lof_bucketed_driver_gate_parity(spark, monkeypatch):
    """The Arrow-collect driver twin of the bucketed-LOF chain must
    reproduce the distributed chain bit-for-bit — same fixture, gate
    on vs forced off, exact frame equality (exercises buckets,
    decimal dots, top-k tie order, and the null flow for singleton
    buckets)."""
    import pandas as pd

    from metadata_etl_framework_spark.ops.similarity import (
        lof_scores_bucketed,
    )

    rows = [
        (
            i,
            [
                float((i * 7 + j * 13) % 19) / 19.0 - 0.5
                + (3.0 if i == 41 and j == 0 else 0.0)
                for j in range(8)
            ],
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    on = lof_scores_bucketed(df, k=4, n_planes=4).toPandas()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
    off = lof_scores_bucketed(df, k=4, n_planes=4).toPandas()
    pd.testing.assert_frame_equal(on, off, check_exact=True)
