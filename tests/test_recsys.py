"""Unit tests for ops/recsys.py — item-based collaborative filtering."""

from __future__ import annotations

import math

from metadata_etl_framework_spark.ops.recsys import (
    item_item_cosine,
    recommend_items,
)


def _inter(spark, rows):
    return spark.createDataFrame(rows, "u long, i string, r double")


def test_binary_cosine_exact(spark):
    # u1:{A,B}, u2:{A,B}, u3:{A,C} -> n_A=3 n_B=2 n_C=1
    rows = [(1, "A", 1.0), (1, "B", 1.0), (2, "A", 1.0), (2, "B", 1.0),
            (3, "A", 1.0), (3, "C", 1.0),
            (1, "A", 1.0)]  # duplicate presence must not double-count
    out = item_item_cosine(_inter(spark, rows), "u", "i").collect()
    by_pair = {(r.item_a, r.item_b): r for r in out}
    ab = by_pair[("A", "B")]
    assert ab.n_cooc == 2
    assert ab.cosine == round(2 / math.sqrt(3 * 2), 6)
    assert ab.shrunk_cosine == ab.cosine  # shrinkage=0
    ac = by_pair[("A", "C")]
    assert ac.n_cooc == 1 and ac.cosine == round(1 / math.sqrt(3), 6)


def test_rating_mode_and_shrinkage(spark):
    # ratings accumulate; duplicate (u,i) ratings SUM before the model
    rows = [(1, "A", 2.0), (1, "A", 1.0), (1, "B", 4.0),
            (2, "A", 3.0), (2, "B", 0.0)]
    out = item_item_cosine(
        _inter(spark, rows), "u", "i", rating_col="r", shrinkage=2.0
    ).collect()
    assert len(out) == 1
    r = out[0]
    # dot = 3*4 + 3*0 = 12; |A|² = 9+9, |B|² = 16
    cos = 12 / math.sqrt(18 * 16)
    assert r.cosine == round(cos, 6)
    assert r.shrunk_cosine == round(cos * 2 / (2 + 2.0), 6)


def test_max_user_items_gate(spark):
    rows = [(1, "A", 1.0), (1, "B", 1.0), (1, "C", 1.0),
            (2, "A", 1.0), (2, "B", 1.0)]
    out = item_item_cosine(
        _inter(spark, rows), "u", "i", max_user_items=2
    ).collect()
    # user 1 (3 items) is dropped; only user 2's {A,B} pair remains
    assert [(r.item_a, r.item_b, r.n_cooc) for r in out] == [("A", "B", 1)]


def test_min_cooc_floor(spark):
    rows = [(1, "A", 1.0), (1, "B", 1.0), (2, "A", 1.0), (2, "C", 1.0)]
    out = item_item_cosine(_inter(spark, rows), "u", "i", min_cooc=2)
    assert out.count() == 0


def test_recommend_excludes_seen_and_ranks(spark):
    rows = [(1, "A", 1.0), (1, "B", 1.0),
            (2, "A", 1.0), (2, "B", 1.0),
            (3, "A", 1.0), (3, "C", 1.0),
            (4, "B", 1.0), (4, "C", 1.0)]
    df = _inter(spark, rows)
    sims = item_item_cosine(df, "u", "i")
    recs = recommend_items(df, sims, "u", "i", top_n=2)
    got = {(r.user, r.item): (r.score, r.rank) for r in recs.collect()}
    # user 1 saw A,B -> only C recommendable (via A-C and B-C sims)
    assert set(k[1] for k in got if k[0] == 1) == {"C"}
    # no recommendation may be an already-seen item
    seen = {(u, i) for (u, i, _) in rows}
    assert not (set(got) & seen)
    # ranks are 1..n per user, score-descending
    for u in {1, 2, 3, 4}:
        urecs = sorted(
            (v[1], v[0]) for k, v in got.items() if k[0] == u
        )
        assert [r for r, _ in urecs] == list(range(1, len(urecs) + 1))
        scores = [s for _, s in urecs]
        assert scores == sorted(scores, reverse=True)


def test_recommend_include_seen(spark):
    rows = [(1, "A", 1.0), (1, "B", 1.0), (2, "A", 1.0), (2, "B", 1.0)]
    df = _inter(spark, rows)
    sims = item_item_cosine(df, "u", "i")
    recs = recommend_items(df, sims, "u", "i", top_n=5, include_seen=True)
    # with include_seen the seen neighbors come back as candidates
    assert {(r.user, r.item) for r in recs.collect()} == {
        (1, "A"), (1, "B"), (2, "A"), (2, "B")
    }

def test_top_k_per_item_prune(spark):
    # star around A: A pairs with B,C,D at descending cosine; B,C,D
    # also pair among themselves. With k=1 each item keeps only its
    # single best neighbor, but a pair survives if EITHER side keeps it.
    rows = [
        # 4 users see {A,B}, 3 see {A,C}, 2 see {A,D}, 2 see {B,C}
        (1, "A", 1.0), (1, "B", 1.0),
        (2, "A", 1.0), (2, "B", 1.0),
        (3, "A", 1.0), (3, "B", 1.0),
        (4, "A", 1.0), (4, "B", 1.0),
        (5, "A", 1.0), (5, "C", 1.0),
        (6, "A", 1.0), (6, "C", 1.0),
        (7, "A", 1.0), (7, "C", 1.0),
        (8, "A", 1.0), (8, "D", 1.0),
        (9, "A", 1.0), (9, "D", 1.0),
        (10, "B", 1.0), (10, "C", 1.0),
        (11, "B", 1.0), (11, "C", 1.0),
    ]
    df = _inter(spark, rows)
    full = item_item_cosine(df, "u", "i")
    pruned = item_item_cosine(df, "u", "i", top_k_per_item=1)
    full_pairs = {(r.item_a, r.item_b): r for r in full.collect()}
    kept = {(r.item_a, r.item_b) for r in pruned.collect()}
    # every kept pair exists in the full model with identical stats
    for r in pruned.collect():
        f = full_pairs[(r.item_a, r.item_b)]
        assert (r.n_cooc, r.cosine, r.shrunk_cosine) == (
            f.n_cooc, f.cosine, f.shrunk_cosine
        )
    # A's best neighbor is B (cos 4/sqrt(9*6)); B's best is A; C's best
    # is A (3/sqrt(9*7) > 2/sqrt(6*7)); D's best is A -> k=1 keeps the
    # star edges and drops (B,C)
    assert kept == {("A", "B"), ("A", "C"), ("A", "D")}
    # either-endpoint semantics: (A,C) and (A,D) are NOT in A's own
    # top-1, they survive because C and D rank A first
    assert len(kept) > 1


def test_broadcast_gate_shuffle_fallback_identical(spark):
    rows = [(1, "A", 1.0), (1, "B", 1.0),
            (2, "A", 1.0), (2, "B", 1.0),
            (3, "A", 1.0), (3, "C", 1.0),
            (4, "B", 1.0), (4, "C", 1.0)]
    df = _inter(spark, rows)
    sims = item_item_cosine(df, "u", "i")
    bc = recommend_items(df, sims, "u", "i", top_n=2)
    sh = recommend_items(
        df, sims, "u", "i", top_n=2, broadcast_max_rows=0
    )
    assert sorted(map(tuple, bc.collect())) == sorted(
        map(tuple, sh.collect())
    )


# ---------------------------------------------------------------------------
# Rank-2 ALS factorization (round 13)
# ---------------------------------------------------------------------------


def _als_ratings(spark):
    # rank-1 structure: r = (1 + u%3) * (1 + i%2), 30 users x 12 items
    rows = [
        (u, i, float((1 + u % 3) * (1 + i % 2)))
        for u in range(30)
        for i in range(12)
        if (u + i) % 4 != 0  # drop a quarter: not a full matrix
    ]
    return spark.createDataFrame(rows, "u long, i long, r double")


def test_als_deterministic_and_shapes(spark):
    from metadata_etl_framework_spark.ops.recsys import als_factorize

    df = _als_ratings(spark)
    uf1, if1 = als_factorize(df, "u", "i", "r", rounds=2, reg=0.1)
    uf2, if2 = als_factorize(df, "u", "i", "r", rounds=2, reg=0.1)
    assert sorted(map(tuple, uf1.collect())) == sorted(
        map(tuple, uf2.collect())
    )
    assert sorted(map(tuple, if1.collect())) == sorted(
        map(tuple, if2.collect())
    )
    assert uf1.count() == 30 and if1.count() == 12


def test_als_fits_low_rank_structure(spark):
    """Rank-1 ground truth fits to near-zero RMSE in 2 rounds — and
    beats the constant-mean predictor by a wide margin."""
    from metadata_etl_framework_spark.ops.recsys import (
        als_evaluate,
        als_factorize,
    )
    from pyspark.sql import functions as F

    df = _als_ratings(spark)
    uf, itf = als_factorize(df, "u", "i", "r", rounds=2, reg=0.01)
    ev = als_evaluate(df, uf, itf, "u", "i", "r").collect()[0]
    stats = df.agg(
        F.stddev_pop("r").alias("sd"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert ev["n_ratings"] == stats["n"]
    assert ev["rmse"] < 0.2 * stats["sd"]


def test_als_guards(spark):
    import pytest

    from metadata_etl_framework_spark.ops.recsys import als_factorize

    df = _als_ratings(spark)
    with pytest.raises(ValueError):
        als_factorize(df, "u", "i", "r", rounds=0)
    with pytest.raises(ValueError):
        als_factorize(df, "u", "i", "r", reg=0.0)


def test_popularity_recommend_excludes_seen_and_ranks(spark):
    """3 users, 4 items with popularity c>b>a>d; each user must get
    unseen items in popularity order with deterministic ties."""
    from metadata_etl_framework_spark.ops.recsys import (
        popularity_recommend,
    )

    rows = [
        ("u1", "a"), ("u1", "b"), ("u1", "c"),
        ("u2", "c"), ("u2", "b"),
        ("u3", "c"),
    ]
    df = spark.createDataFrame(rows, "u string, i string")
    out = popularity_recommend(df, "u", "i", n=2).collect()
    got = {(r["user"], r["rn"]): (r["item"], r["pop"]) for r in out}
    # popularity: c=3, b=2, a=1; catalog = {a,b,c}
    # u1 saw the whole catalog -> zero recommendations
    assert not any(u == "u1" for (u, _rn) in got)
    assert got[("u2", 1)] == ("a", 1)
    assert got[("u3", 1)] == ("b", 2)
    assert got[("u3", 2)] == ("a", 1)
    assert len(got) == 3
    import pytest

    with pytest.raises(ValueError, match="max_catalog"):
        popularity_recommend(df, "u", "i", n=1, max_catalog=2)


def test_recsys_eval_coverage_hand_math(spark):
    """2 users, catalog {a,b,c,d}; recs: u1->a, u2->a (full head
    collapse on a). coverage = 1/4; novelty of a (pop 2 of 2 users) =
    -log2(1) = 0; gini over counts (0,0,0,2): sorted 0,0,0,2 ->
    sum ix = 4*2 = 8, sx = 2, G = (16 - 5*2)/(4*2) = 0.75."""
    from metadata_etl_framework_spark.ops.recsys import (
        recsys_eval_coverage,
    )

    inter = spark.createDataFrame(
        [("u1", "a"), ("u1", "b"), ("u2", "a"), ("u2", "c"),
         ("u2", "d")],
        "u string, i string",
    )
    recs = spark.createDataFrame(
        [("u1", "a"), ("u2", "a")], "u string, i string"
    )
    r = recsys_eval_coverage(recs, inter, "u", "i").first()
    assert r["n_users"] == 2 and r["catalog_size"] == 4
    assert r["items_recommended"] == 1 and r["n_rec_rows"] == 2
    assert r["coverage"] == 0.25
    assert r["novelty_bits"] == 0.0
    assert r["rec_gini"] == 0.75
    # a rarer recommendation scores positive novelty bits
    recs2 = spark.createDataFrame(
        [("u1", "d")], "u string, i string"
    )
    r2 = recsys_eval_coverage(recs2, inter, "u", "i").first()
    assert r2["novelty_bits"] == 1.0  # -log2(1/2)
    # unknown item counted, not scored
    recs3 = spark.createDataFrame(
        [("u1", "zz")], "u string, i string"
    )
    r3 = recsys_eval_coverage(recs3, inter, "u", "i").first()
    assert r3["n_unscored"] == 1 and r3["novelty_bits"] is None


def test_cf_driver_gate_parity(spark, monkeypatch):
    """The Arrow-collect driver twin of item_item_cosine (binary
    mode, incl. the top-k prune) must reproduce the distributed chain
    bit-for-bit — same fixture, gate on vs forced off, exact frame
    equality."""
    import pandas as pd

    import metadata_etl_framework_spark.ops.recsys as rx

    rows = [
        (i % 37, f"it{(i * 7) % 11}")
        for i in range(500)
    ] + [(3, "it3"), (3, "it3")]
    df = spark.createDataFrame(rows, "u long, it string")

    def _run():
        sims = rx.item_item_cosine(
            df, "u", "it", min_cooc=2, shrinkage=5.0
        )
        topk = rx.item_item_cosine(
            df, "u", "it", min_cooc=2, shrinkage=5.0, top_k_per_item=3
        )
        return sims.toPandas(), topk.toPandas()

    on = _run()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
    off = _run()
    for a, b in zip(on, off):
        pd.testing.assert_frame_equal(a, b, check_exact=True)
