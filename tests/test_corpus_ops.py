"""Unit tests for corpus-curation ops (ops/corpus.py) and the embedding
centroid/normalize ops (ops/similarity.py additions)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from metadata_etl_framework_spark.ops.corpus import (
    leakage_safe_split,
    weighted_sample,
)
from metadata_etl_framework_spark.ops.similarity import (
    group_centroids,
    normalize_embeddings,
)


# ------------------------------------------------------------- leakage split


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every member of a near-dup cluster gets the SAME split — the whole
    point of splitting on the cluster id, not the doc id."""
    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    # clusters: docs 0-9 all in cluster 0, 10-19 in cluster 10, rest solo
    clusters = spark.createDataFrame(
        [(i, 0) for i in range(10)] + [(i, 10) for i in range(10, 20)],
        "node long, cluster_id long",
    )
    out = leakage_safe_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, clusters=clusters
    ).collect()
    by_doc = {r.doc_id: r.split for r in out}
    assert len({by_doc[i] for i in range(10)}) == 1
    assert len({by_doc[i] for i in range(10, 20)}) == 1
    # all three splits materialize over 182 units (sanity, deterministic)
    assert {r.split for r in out} == {"train", "val", "test"}


def test_leakage_safe_split_deterministic_and_incremental(spark):
    """Same salt → identical assignment; a grown corpus never reassigns
    an existing unit (hash property, unlike ntile/sort splits)."""
    small = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    big = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    f = {"train": 0.9, "val": 0.05, "test": 0.05}
    a = {r.doc_id: r.split for r in leakage_safe_split(small, f).collect()}
    b = {r.doc_id: r.split for r in leakage_safe_split(big, f).collect()}
    assert all(b[k] == v for k, v in a.items())


def test_leakage_safe_split_validates_fractions(spark):
    docs = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        leakage_safe_split(docs, {"train": 0.5, "test": 0.4})


# --------------------------------------------------------- weighted sampling


def test_weighted_sample_exact_k_and_deterministic(spark):
    df = spark.createDataFrame(
        [(i, float(i % 7 + 1)) for i in range(500)], "id long, w double"
    )
    a = weighted_sample(df, k=25, weight_col="w", hash_cols=["id"]).collect()
    b = weighted_sample(df, k=25, weight_col="w", hash_cols=["id"]).collect()
    assert len(a) == 25
    assert {r.id for r in a} == {r.id for r in b}
    # a different salt draws a different sample
    c = weighted_sample(
        df, k=25, weight_col="w", hash_cols=["id"], salt="other"
    ).collect()
    assert {r.id for r in a} != {r.id for r in c}


def test_weighted_sample_prefers_heavy_rows(spark):
    """PPS property: rows with 100× weight should dominate the sample."""
    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = weighted_sample(df, k=40, weight_col="w", hash_cols=["id"]).collect()
    heavy = sum(1 for r in got if r.id < 50)
    # E[heavy] ≈ 33 of 40 under A-ES; anything ≥ 25 rules out uniformity
    # (uniform draw would give ~2)
    assert heavy >= 25, heavy


def test_weighted_sample_excludes_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, None), (4, 5.0)], "id long, w double"
    )
    got = weighted_sample(df, k=10, weight_col="w", hash_cols=["id"]).collect()
    assert {r.id for r in got} == {4}


# ------------------------------------------------------------ embedding ops


def test_group_centroids_matches_plain_mean(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], "a"),
            (2, [3.0, 4.0], "a"),
            (3, [10.0, 20.0], "b"),
        ],
        "vec_id long, embedding array<float>, label string",
    )
    got = {
        (r.label, r.dim): r.centroid_val
        for r in group_centroids(df, group_col="label").collect()
    }
    assert got == {
        ("a", 0): 2.0, ("a", 1): 3.0, ("b", 0): 10.0, ("b", 1): 20.0,
    }


def test_normalize_embeddings_unit_norm_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r.unit_vec for r in normalize_embeddings(df).collect()}
    assert rows[2] is None  # zero norm → NULL, not divide-by-zero
    assert abs(rows[1][0] - 0.6) < 1e-9 and abs(rows[1][1] - 0.8) < 1e-9
    assert abs(math.hypot(*rows[1]) - 1.0) < 1e-9


# ------------------------------------------------------- composite quality


def test_quality_score_ordering_and_bounds(spark):
    from metadata_etl_framework_spark.ops.text import quality_score

    prose = " ".join(
        ["the cat sat on the mat and it is a fine day for all of us"] * 20
    )
    df = spark.createDataFrame(
        [
            (1, prose),                               # long natural prose
            (2, "{}[]()!!;;::##@@%%^^&&**"),          # punctuation soup
            (3, "line\nline\nline\nline"),            # pure repetition
            (4, ""),                                  # empty
            (5, None),                                # null
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in quality_score(df).collect()}
    for r in rows.values():
        assert 0.0 <= r.quality_score <= 1.0
    assert rows[1].quality_score > rows[2].quality_score
    assert rows[1].quality_score > rows[3].quality_score
    # null and empty text must agree (both score only the dedup+punct
    # complements) and sit well below real prose
    assert rows[4].n_tokens == 0 and rows[5].n_tokens == 0
    assert rows[4].quality_score == rows[5].quality_score
    assert rows[5].quality_score < rows[1].quality_score
    with pytest.raises(ValueError):
        quality_score(df, weights=(0, 0, 0, 0)).collect()


# ------------------------------------------------- length-bucketed batches


def test_length_bucketed_batches_assignment(spark):
    from metadata_etl_framework_spark.ops.packing import (
        length_bucketed_batches,
    )

    df = spark.createDataFrame(
        [(i, (i % 10) * 10 + 5) for i in range(100)],
        "doc_id long, n_tokens long",
    )
    out = length_bucketed_batches(df, n_buckets=4, batch_size=8).collect()
    assert len(out) == 100
    by_doc = {r.doc_id: r for r in out}
    # monotone: longer docs land in >= bucket
    assert by_doc[1].bucket <= by_doc[9].bucket  # 15 tokens vs 95 tokens
    for r in out:
        assert r.batch_max_tokens >= r.n_tokens
    # batches are filled within a bucket: every (bucket, batch) group has
    # <= batch_size members and its max is the group max
    from collections import defaultdict

    groups = defaultdict(list)
    for r in out:
        groups[(r.bucket, r.batch_index)].append(r)
    for rows_ in groups.values():
        assert len(rows_) <= 8
        mx = max(r.n_tokens for r in rows_)
        assert all(r.batch_max_tokens == mx for r in rows_)
    with pytest.raises(ValueError):
        length_bucketed_batches(df, n_buckets=0)


# --------------------------------------------------------- int8 quantization


def test_quantize_embeddings_roundtrip_and_edges(spark):
    from metadata_etl_framework_spark.ops.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0]),          # zero vector
            (3, None),                # null vector
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    r1 = rows[1]
    # scale = 1.0/127; components quantize to 127, -64 (round(-63.5) away
    # from zero), 32, 0
    assert abs(r1.scale - 1.0 / 127) < 1e-12
    assert r1.qvec == [127, -64, 32, 0]
    # reconstruction error bounded by scale/2 per component
    for q, x in zip(r1.qvec, [1.0, -0.5, 0.25, 0.0]):
        assert abs(q * r1.scale - x) <= r1.scale / 2 + 1e-12
    assert rows[2].scale is None and rows[2].qvec is None
    assert rows[3].scale is None and rows[3].qvec is None


# ----------------------------------------------------------- KL divergence


def test_source_kl_divergence_properties(spark):
    """A source matching the blend has near-zero KL; a lexically alien
    source has large KL; KL is always >= 0 up to smoothing noise."""
    from metadata_etl_framework_spark.ops.text import source_kl_divergence

    common = "the cat sat on the mat and the dog ran off"
    rows = [(f"typical_{i}", "blend", common) for i in range(20)]
    rows += [("alien", "alien", "zyx wvu tsr qpo nml kji hgf edc ba")] * 5
    df = spark.createDataFrame(
        [(i, src, txt) for i, (_, src, txt) in enumerate(rows)],
        "doc_id long, source string, text string",
    )
    got = {r.source: r for r in source_kl_divergence(df).collect()}
    assert got["alien"].kl_vs_corpus > got["blend"].kl_vs_corpus
    assert got["alien"].kl_vs_corpus > 0.5
    assert got["blend"].kl_vs_corpus > -0.01  # smoothing can dip ~0


# ----------------------------------------------------------- compaction plan


def test_compaction_plan_groups_and_idempotence(spark):
    from metadata_etl_framework_spark.ops.layout import compaction_plan

    files = spark.createDataFrame(
        [(f"f{i:03d}", 30) for i in range(10)] + [("big", 250)],
        "path string, size_bytes long",
    )
    out = compaction_plan(files, target_bytes=100).collect()
    assert len(out) == 11
    by_group = {}
    for r in out:
        by_group.setdefault(r.group_id, []).append(r)
    for gid, rows in by_group.items():
        tot = sum(r.size_bytes for r in rows)
        assert all(r.group_total_bytes == tot for r in rows)
        # greedy bound: a group exceeds target only via its last file
        assert tot - max(r.size_bytes for r in rows) < 100
    # deterministic / idempotent on re-listing
    again = {(r.path, r.group_id)
             for r in compaction_plan(files, target_bytes=100).collect()}
    assert again == {(r.path, r.group_id) for r in out}
    with pytest.raises(ValueError):
        compaction_plan(files, target_bytes=0)


# -------------------------------------------------------- group diversity


def test_group_diversity_matches_bruteforce(spark):
    """O(n·d) identity vs the O(n²) definition: for unit vectors,
    Σ_{i≠j} cos = ‖Σx‖² − n."""
    import numpy as np

    from metadata_etl_framework_spark.ops.similarity import group_diversity

    vecs = [
        (1, [1.0, 0.0], "a"), (2, [0.0, 1.0], "a"), (3, [1.0, 1.0], "a"),
        (4, [2.0, 0.0], "b"), (5, [4.0, 0.0], "b"),   # parallel → cos 1
        (6, [1.0, 2.0], "c"),                         # singleton → NULL
        (7, [0.0, 0.0], "c"),                         # zero vector drops
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label string"
    )
    got = {r.label: (r.n_vectors, r.mean_pairwise_cosine)
           for r in group_diversity(df).collect()}
    for lbl in ("a", "b"):
        vs = [np.array(v) / np.linalg.norm(v)
              for _, v, l in vecs if l == lbl and np.linalg.norm(v) > 0]
        n = len(vs)
        expect = float(np.mean(
            [vs[i] @ vs[j] for i in range(n) for j in range(n) if i != j]
        ))
        assert got[lbl][0] == n
        assert abs(got[lbl][1] - expect) < 1e-6, (lbl, got[lbl], expect)
    assert got["c"] == (1, None)  # zero vector dropped, singleton → NULL


# --------------------------------------------------------------- epoch plan


def test_epoch_plan_realizes_budget_and_flags_oversampling(spark):
    from metadata_etl_framework_spark.ops.text import epoch_plan

    docs = spark.createDataFrame(
        [(i, "scarce", "a b c") for i in range(2)]            # 6 tokens
        + [(i + 10, "plenty", "w x y z q r s t") for i in range(100)],
        "doc_id long, source string, text string",
    )
    weights = spark.createDataFrame(
        [("scarce", 0.5), ("plenty", 0.5)], "source string, share double"
    )
    got = {r.source: r for r in
           epoch_plan(docs, weights, budget_tokens=1000).collect()}
    s, p = got["scarce"], got["plenty"]
    assert s.target_tokens == 500 and p.target_tokens == 500
    # scarce: 6 tokens must repeat ~83x; plenty: 800 tokens subsample
    assert s.is_oversampled and s.epochs > 80
    assert not p.is_oversampled and p.epochs < 1
    # realized tokens hit the mix: epochs * n_tokens ≈ target
    assert abs(s.epochs * s.n_tokens - 500) < 1
    assert abs(p.epochs * p.n_tokens - 500) < 1
    import pytest as _pt
    with _pt.raises(ValueError):
        epoch_plan(docs, weights, budget_tokens=0)


def test_group_diversity_matches_bruteforce_pairwise(spark):
    """group_diversity's O(n*d) identity (||sum x||^2 - n over unit
    vectors) must agree with literal all-pairs mean cosine, including
    after the repartition+persist plan fixes (round-5 VERDICT item #7:
    the under-split input serialized the normalize math on one core and
    re-evaluated it per downstream reference)."""
    import itertools
    import math as m

    from metadata_etl_framework_spark.ops.similarity import group_diversity

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).withColumn("label", F.col("vec_id") % 5)
    got = {
        r.label: (r.n_vectors, r.mean_pairwise_cosine)
        for r in group_diversity(emb, "label").collect()
    }

    rows = emb.select("label", "embedding").collect()
    by_label: dict = {}
    for r in rows:
        v = [float(x) for x in r.embedding]
        n = m.sqrt(sum(x * x for x in v))
        if n > 0:
            by_label.setdefault(r.label, []).append([x / n for x in v])
    for label, vecs in by_label.items():
        n_vec, mean_cos = got[label]
        assert n_vec == len(vecs)
        if len(vecs) < 2:
            assert mean_cos is None
            continue
        sims = [
            sum(a * b for a, b in zip(u, v))
            for u, v in itertools.combinations(vecs, 2)
        ]
        expect = 2 * sum(sims) / (len(vecs) * (len(vecs) - 1))
        assert abs(mean_cos - expect) < 1e-6, (label, mean_cos, expect)


# ------------------------------------------------------------------ domain cap


def test_domain_cap_two_level_equals_single_window(spark):
    """The skew-proof (source, bucket) pre-selection must return EXACTLY
    the single-window answer — bucketing only parallelizes, never changes
    the selected set."""
    from metadata_etl_framework_spark.ops.corpus import domain_cap

    rows = [(i, f"dom{i % 3}") for i in range(500)] + [(900, None), (901, None)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    plain = domain_cap(df, cap=25, salt="t", skew_buckets=1)
    two = domain_cap(df, cap=25, salt="t", skew_buckets=8)
    a = {(r.doc_id, r.source, r["__rank"]) for r in plain.collect()}
    b = {(r.doc_id, r.source, r["__rank"]) for r in two.collect()}
    assert a == b
    # every source capped, NULL source is its own group
    per = {
        r.source: r.n
        for r in two.groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    assert all(n <= 25 for n in per.values()) and per[None] == 2


def test_domain_cap_under_cap_sources_pass_through(spark):
    from metadata_etl_framework_spark.ops.corpus import domain_cap

    df = spark.createDataFrame(
        [(i, "small") for i in range(10)], "doc_id long, source string"
    )
    out = domain_cap(df, cap=100, salt="t")
    assert out.count() == 10


# ------------------------------------------------------------------------ DSIR


def test_dsir_target_like_docs_score_higher(spark):
    """A raw doc sharing the target's bigrams must out-score one that
    shares none, and zero-feature (≤1 token) docs get NULL weight."""
    from metadata_etl_framework_spark.ops.text import (
        dsir_importance_weights,
        dsir_resample,
    )

    target = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps"),          # target-like
            (101, "zzz qqq vvv kkk www uuu"),            # alien
            (102, "single"),                             # no bigrams
            (103, None),                                 # NULL text
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dsir_importance_weights(raw, target).collect()}
    assert out[100].log_weight > out[101].log_weight
    assert out[102].log_weight is None and out[102].n_features == 0
    assert out[103].log_weight is None
    picked = dsir_resample(
        dsir_importance_weights(raw, target), k=2, salt="t"
    ).collect()
    assert len(picked) == 2
    assert all(r.log_weight is not None for r in picked)


# --------------------------------------------------------------- semantic dedup


def test_semantic_dedup_transitive_closure_and_singletons(spark):
    """A~B and B~C (but A!~C) must land in ONE cluster keeping only the
    min id; orthogonal vectors stay kept as singletons."""
    from metadata_etl_framework_spark.ops.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.4359, 0.0]),   # cos(1,2) ≈ 0.9, cos(2,3) ≈ 0.9
        (3, [0.62, 0.785, 0.0]),   # cos(1,3) ≈ 0.62 < 0.8 — chain only
        (4, [0.0, 0.0, 1.0]),      # orthogonal singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: (r.cluster_id, r.is_kept)
           for r in semantic_dedup(df, threshold=0.8, dim=3).collect()}
    assert out[1] == (1, True)
    assert out[2] == (1, False)
    assert out[3] == (1, False)
    assert out[4] == (4, True)


def test_top_ngrams_counts_all_occurrences(spark):
    from metadata_etl_framework_spark.ops.text import top_ngrams

    docs = spark.createDataFrame(
        [(1, "a b a b", "s1"), (2, "a b c", "s2"), (3, "", "s1"), (4, None, "s2")],
        "doc_id int, text string, source string",
    )
    rows = {r.ngram: r for r in top_ngrams(docs, k=10, id_col="doc_id").collect()}
    # "a b" occurs twice in doc 1 (occurrences, not a distinct shingle set)
    assert rows["a b"]["count"] == 3 and rows["a b"].doc_freq == 2
    assert rows["b a"]["count"] == 1
    assert rows["b c"]["count"] == 1
    # empty / NULL text contribute nothing
    assert len(rows) == 3


def test_top_ngrams_per_group_k(spark):
    from metadata_etl_framework_spark.ops.text import top_ngrams

    docs = spark.createDataFrame(
        [(1, "x y x y x y", "s1"), (2, "p q", "s2")],
        "doc_id int, text string, source string",
    )
    out = top_ngrams(docs, k=1, group_col="source").collect()
    got = {(r.source, r.ngram) for r in out}
    assert got == {("s1", "x y"), ("s2", "p q")}


def test_global_row_number_matches_window(spark):
    from pyspark.sql import Window
    from metadata_etl_framework_spark.ops.packing import global_row_number

    df = spark.range(0, 5000).select(
        F.col("id"), (F.col("id") * 37 % 101).alias("key")
    )
    got = global_row_number(
        df, [("key", "desc"), ("id", "asc")], out="rn", num_partitions=7
    )
    w = Window.orderBy(F.desc("key"), F.asc("id"))
    want = df.withColumn("rn", F.row_number().over(w).cast("long"))
    assert got.orderBy("id").collect() == want.orderBy("id").collect()


def test_global_row_number_empty(spark):
    from metadata_etl_framework_spark.ops.packing import global_row_number

    df = spark.range(0, 10).filter(F.lit(False))
    assert global_row_number(df, ["id"]).count() == 0


def test_curriculum_order_is_dense_and_quality_sorted(spark):
    from metadata_etl_framework_spark.ops.corpus import curriculum_order

    docs = spark.createDataFrame(
        [(i, "word " * (i + 1), ) for i in range(40)],
        "doc_id int, text string",
    )
    out = curriculum_order(docs).collect()
    ranks = sorted(r.curriculum_pos for r in out)
    assert ranks == list(range(1, 41))  # dense 1..n, no gaps or dups
    by_rank = sorted(out, key=lambda r: r.curriculum_pos)
    scores = [r.quality_score for r in by_rank]
    assert scores == sorted(scores, reverse=True)  # best-first


def test_temperature_weights_limits(spark):
    from metadata_etl_framework_spark.ops.text import temperature_weights

    docs = spark.createDataFrame(
        [(i, "w " * (10 if i % 10 else 1000), "big" if i % 10 == 0 else "small")
         for i in range(100)],
        "doc_id int, text string, source string",
    )
    # alpha=1 reproduces natural shares
    nat = {r.source: r for r in temperature_weights(docs, alpha=1.0).collect()}
    assert all(abs(r.share - r.natural_share) <= 1e-6 for r in nat.values())
    # alpha=0 is uniform
    uni = {r.source: r.share for r in temperature_weights(docs, alpha=0.0).collect()}
    assert all(abs(v - 0.5) <= 1e-6 for v in uni.values())
    # alpha<1 upweights the scarce source relative to natural
    t = {r.source: r for r in temperature_weights(docs, alpha=0.3).collect()}
    assert t["small"].share > t["small"].natural_share
    assert t["big"].share < t["big"].natural_share
    # shares always normalize
    assert abs(sum(r.share for r in t.values()) - 1.0) <= 2e-6


def test_cohort_retention_closed_form(spark):
    from datetime import datetime

    from metadata_etl_framework_spark.ops.retention import cohort_retention

    # cohort A (week of Mar 4 2024): users 1,2 — user 1 returns next week
    # cohort B (week of Mar 11): user 3 only
    rows = [
        (1, datetime(2024, 3, 4)), (2, datetime(2024, 3, 5)),
        (1, datetime(2024, 3, 12)),                      # retained
        (1, datetime(2024, 3, 12, 9)),                   # dup activity, 1 user
        (3, datetime(2024, 3, 13)),
        (None, datetime(2024, 3, 4)), (4, None),         # dropped rows
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r.cohort.day, r.period_offset): (r.active_users, r.cohort_size,
                                             r.retention_rate)
           for r in cohort_retention(df, period="week").collect()}
    assert got[(4, 0)] == (2, 2, 1.0)    # cohort A, week 0: both active
    assert got[(4, 1)] == (1, 2, 0.5)    # cohort A, week 1: user 1 only
    assert got[(11, 0)] == (1, 1, 1.0)   # cohort B
    assert len(got) == 3


def test_cohort_retention_rejects_bad_period(spark):
    import pytest as _pytest

    from metadata_etl_framework_spark.ops.retention import cohort_retention

    df = spark.createDataFrame([(1, None)], "user_id long, ts timestamp")
    with _pytest.raises(ValueError):
        cohort_retention(df, period="hour")


def test_attribution_last_and_first_touch(spark):
    from datetime import datetime

    from metadata_etl_framework_spark.ops.attribution import (
        attribute_conversions,
    )

    ev = spark.createDataFrame(
        [
            (1, 10, datetime(2024, 3, 1, 9), "click"),
            (2, 10, datetime(2024, 3, 1, 10), "view"),
            (3, 10, datetime(2024, 3, 1, 11), "purchase"),   # last=2, first=1
            (4, 20, datetime(2024, 3, 1, 12), "purchase"),   # no touch at all
            (5, 30, datetime(2024, 3, 1, 8), "click"),
            (6, 30, datetime(2024, 3, 9, 8), "purchase"),    # touch older than lookback
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    last = {r.conversion_id: r for r in attribute_conversions(
        ev, lookback="3 days").collect()}
    assert last[3].touch_id == 2 and last[3].touch_type == "view"
    assert last[3].gap_seconds == 3600
    assert last[4].touch_id is None and last[4].gap_seconds is None
    assert last[6].touch_id is None      # outside the 3-day lookback

    first = {r.conversion_id: r for r in attribute_conversions(
        ev, model="first_touch").collect()}
    assert first[3].touch_id == 1 and first[3].touch_type == "click"
    assert first[6].touch_id == 5        # first touch ignores lookback
    assert first[4].touch_id is None

    import pytest as _pt
    with _pt.raises(ValueError):
        attribute_conversions(ev, model="linear")


def test_rolling_active_users_window_math(spark):
    from datetime import datetime

    from metadata_etl_framework_spark.ops.retention import (
        rolling_active_users,
    )

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 3, 1)), (2, datetime(2024, 3, 1)),
            (1, datetime(2024, 3, 3)),
        ],
        "user_id long, ts timestamp",
    )
    out = {r.day.day: r.active_users
           for r in rolling_active_users(ev, window_days=2).collect()}
    # day1: users {1,2}; day2: carry of day1 = {1,2}; day3: {1} + carry {1}
    assert out == {1: 2, 2: 2, 3: 1}

    dau = {r.day.day: r.active_users
           for r in rolling_active_users(ev, window_days=1).collect()}
    assert dau == {1: 2, 3: 1}


def test_kfold_assign_stable_and_balanced(spark):
    from metadata_etl_framework_spark.ops.corpus import kfold_assign

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = kfold_assign(docs, k=5)
    folds = {r.doc_id: r.fold for r in out.collect()}
    assert set(folds.values()) <= set(range(5))
    # roughly balanced (hash-uniform): each fold within 25% of 400
    from collections import Counter
    c = Counter(folds.values())
    assert all(300 <= v <= 500 for v in c.values()), c
    # incremental stability: restricting the corpus never moves a fold
    small = {r.doc_id: r.fold
             for r in kfold_assign(docs.limit(100), k=5).collect()}
    assert all(folds[d] == f for d, f in small.items())
    # different salt reshuffles
    salted = {r.doc_id: r.fold
              for r in kfold_assign(docs, k=5, salt="v2").collect()}
    assert any(folds[d] != salted[d] for d in folds)

    import pytest as _pt
    with _pt.raises(ValueError):
        kfold_assign(docs, k=1)


def test_event_transitions_closed_form(spark):
    from datetime import datetime

    from metadata_etl_framework_spark.ops.retention import event_transitions

    ev = spark.createDataFrame(
        [
            (1, 1, datetime(2024, 1, 1, 1), "view"),
            (2, 1, datetime(2024, 1, 1, 2), "click"),
            (3, 1, datetime(2024, 1, 1, 3), "view"),
            (4, 2, datetime(2024, 1, 1, 1), "view"),
            (5, 2, datetime(2024, 1, 1, 2), "buy"),
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    got = {(r.from_type, r.to_type): (r.n_transitions, r.p_transition)
           for r in event_transitions(ev).collect()}
    # view -> click (u1), view -> buy (u2): p = 0.5 each; click -> view: 1.0
    assert got[("view", "click")] == (1, 0.5)
    assert got[("view", "buy")] == (1, 0.5)
    assert got[("click", "view")] == (1, 1.0)
    assert len(got) == 3  # last events contribute no transition


def test_bpe_pair_counts_closed_form(spark):
    from metadata_etl_framework_spark.ops.text import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "aaa ab"), (2, "AB x"), (3, None)],
        "doc_id long, text string",
    )
    got = {r.pair: r["count"] for r in bpe_pair_counts(docs, k=10).collect()}
    # "aaa" -> aa,aa ; "ab" -> ab ; "AB"(lowered) -> ab ; "x" too short
    assert got == {"aa": 2, "ab": 2}


def _py_bpe(word_counts, n_merges, min_pair_count=2):
    """Independent pure-Python BPE reference (greedy left-to-right)."""
    words = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for it in range(n_merges):
        counts = {}
        for w, c in words.items():
            for a, b in zip(w, w[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_pair_count:
            break
        merges.append((it, a, b, a + b, c))
        new_words = {}
        for w, cnt in words.items():
            out, i = [], 0
            while i < len(w):
                if i + 1 < len(w) and w[i] == a and w[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(w[i])
                    i += 1
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + cnt
        words = new_words
    return merges


def test_bpe_train_matches_python_reference(spark):
    from collections import Counter

    from metadata_etl_framework_spark.ops.text import bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest low new",
        "aaa aaab",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    wc = Counter(w for t in texts for w in t.lower().split())
    want = _py_bpe(dict(wc), n_merges=6)
    got = [
        (r.merge_idx, r.left, r.right, r.merged, r.pair_count)
        for r in bpe_train(docs, n_merges=6).orderBy("merge_idx").collect()
    ]
    assert got == want and len(got) == 6


def test_bpe_train_early_stop(spark):
    from metadata_etl_framework_spark.ops.text import bpe_train

    docs = spark.createDataFrame([(1, "ab cd ef")], "doc_id long, text string")
    # every pair occurs once; min_pair_count=2 stops immediately
    assert bpe_train(docs, n_merges=5).count() == 0


def test_bpe_encode_replays_training_segmentation(spark):
    from metadata_etl_framework_spark.ops.text import bpe_encode, bpe_train

    texts = ["low lower lowest low low", "new newer newest new"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = [(r.left, r.right) for r in
              bpe_train(docs, n_merges=4).orderBy("merge_idx").collect()]
    assert len(merges) == 4
    enc = {r.doc_id: r for r in bpe_encode(docs, merges).collect()}

    # python replay of the same merges
    def encode_word(w, merges):
        syms = list(w)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b); i += 2
                else:
                    out.append(syms[i]); i += 1
            syms = out
        return syms

    for i, t in enumerate(texts):
        want = [s for w in t.lower().split() for s in encode_word(w, merges)]
        assert list(enc[i].bpe_tokens) == want
        assert enc[i].n_bpe_real == len(want)


def test_bigram_logprob_closed_form(spark):
    import math

    from metadata_etl_framework_spark.ops.text import bigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x"), (4, None)],
        "doc_id long, text string",
    )
    # unigrams: a:3 b:3 x:1 -> V=3; bigrams: "a b":3, "b a":1
    out = {r.doc_id: r for r in bigram_logprob(docs).collect()}
    p_ab = (3 + 1) / (3 + 3)   # B(ab)+1 / U(a)+V
    p_ba = (1 + 1) / (3 + 3)
    want1 = round((2 * math.log(p_ab) + math.log(p_ba)) / 3, 6)
    assert out[1].n_bigrams == 3 and abs(out[1].mean_logprob - want1) < 2e-6
    assert out[2].n_bigrams == 1
    assert abs(out[2].mean_logprob - round(math.log(p_ab), 6)) < 2e-6
    # <2 tokens or NULL: no bigrams, NULL score
    assert out[3].n_bigrams == 0 and out[3].mean_logprob is None
    assert out[4].n_bigrams == 0 and out[4].mean_logprob is None
    # repeated sequences score higher than rare ones
    assert out[2].mean_logprob > math.log(p_ba)


def test_debounce_events_lag_gap_semantics(spark):
    from datetime import datetime

    from metadata_etl_framework_spark.ops.retention import debounce_events

    ev = spark.createDataFrame(
        [
            (1, 1, datetime(2024, 1, 1, 0, 0, 0), "click"),
            (2, 1, datetime(2024, 1, 1, 0, 0, 30), "click"),   # 30s -> drop
            (3, 1, datetime(2024, 1, 1, 0, 1, 30), "click"),   # 60s from #2 -> keep
            (4, 1, datetime(2024, 1, 1, 0, 0, 10), "view"),    # other type: first
            (5, 2, datetime(2024, 1, 1, 0, 0, 20), "click"),   # other user: first
            (6, None, datetime(2024, 1, 1), "click"),          # null user dropped
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    kept = {r.event_id for r in debounce_events(ev, cooldown_seconds=60).collect()}
    # lag-gap: #3 measures against RAW predecessor #2 (60s) and survives
    assert kept == {1, 3, 4, 5}

    # keying without type: #4 is 10s after #1 across types -> dropped
    kept2 = {r.event_id for r in debounce_events(
        ev, cooldown_seconds=60, type_col=None).collect()}
    assert 4 not in kept2 and 1 in kept2


def test_kaplan_meier_closed_form(spark):
    from datetime import datetime

    from metadata_etl_framework_spark.ops.retention import kaplan_meier

    # observation ends 2024-03-20 (user D's last event).
    # A: lifetime 2, last seen day 1  -> churned  (gap 19 > 7)
    # B: lifetime 2, last seen day 10 -> churned  (gap 10 > 7)
    # C: lifetime 5, last seen day 15 -> censored (gap 5 <= 7)
    # D: lifetime 10, last seen day 20 -> censored (gap 0)
    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 2, 28)), (1, datetime(2024, 3, 1)),
            (2, datetime(2024, 3, 8)), (2, datetime(2024, 3, 10)),
            (3, datetime(2024, 3, 10)), (3, datetime(2024, 3, 15)),
            (4, datetime(2024, 3, 10)), (4, datetime(2024, 3, 20)),
        ],
        "user_id long, ts timestamp",
    )
    rows = {r.duration_days: r for r in kaplan_meier(ev).collect()}
    # t=2: n=4 at risk, d=2 -> S = 1 - 2/4 = 0.5
    assert (rows[2].n_at_risk, rows[2].n_events) == (4, 2)
    assert rows[2].survival == 0.5
    # t=5: censored only -> survival unchanged
    assert rows[5].n_events == 0 and rows[5].survival == 0.5
    assert rows[5].n_censored_here == 1
    # t=10: last at-risk user censored -> survival still 0.5
    assert rows[10].n_at_risk == 1 and rows[10].survival == 0.5


def test_kaplan_meier_all_churned_hits_zero(spark):
    from datetime import datetime

    from metadata_etl_framework_spark.ops.retention import kaplan_meier

    # both users long gone relative to the observation end
    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1)), (1, datetime(2024, 1, 2)),
            (2, datetime(2024, 1, 1)), (2, datetime(2024, 1, 3)),
            (3, datetime(2024, 3, 1)),  # anchor extends observation end
        ],
        "user_id long, ts timestamp",
    )
    rows = {r.duration_days: r for r in kaplan_meier(ev).collect()}
    # t=0 is user 3 (lifetime 0, censored); t=1 and t=2 churn everyone
    # remaining at their step -> survival falls to 0 by the last event
    assert rows[max(rows)].survival == 0.0


def test_ab_test_proportions_closed_form(spark):
    import math

    from metadata_etl_framework_spark.ops.retention import (
        ab_test_proportions,
    )

    # A: 100 users, 60 convert; B: 100 users, 40 convert
    rows = [(u, "A", u < 60) for u in range(100)] + [
        (u + 100, "B", u < 40) for u in range(100)
    ]
    df = spark.createDataFrame(rows, "user_id long, variant string, converted boolean")
    r = ab_test_proportions(df, "variant", "converted").collect()[0]
    assert (r.n_a, r.rate_a, r.n_b, r.rate_b) == (100, 0.6, 100, 0.4)
    p = 0.5
    want_z = round((0.6 - 0.4) / math.sqrt(p * (1 - p) * (2 / 100)), 6)
    assert r.z_score == want_z and r.significant_95

    # multiple rows per unit: ANY conversion counts once
    dup = df.unionByName(
        spark.createDataFrame([(0, "A", False)], df.schema)
    )
    r2 = ab_test_proportions(dup, "variant", "converted").collect()[0]
    assert r2.rate_a == 0.6

    import pytest as _pt
    with _pt.raises(ValueError, match="exactly 2"):
        ab_test_proportions(
            df.withColumn("variant", F.lit("only")), "variant", "converted"
        )


def test_bpe_train_gate_paths_identical(spark, monkeypatch):
    """Round-7: the driver-local finish gate must yield merge-for-merge
    the same output as the fully distributed loop (gate forced to 0),
    including the early stop and tie-breaks."""
    from metadata_etl_framework_spark.ops.text import bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest low new",
        "aaa aaab banana bandana",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    local = [
        tuple(r)
        for r in bpe_train(docs, n_merges=8).orderBy("merge_idx").collect()
    ]
    # early stop agrees too (huge min_pair_count -> 0 merges both paths)
    assert bpe_train(docs, n_merges=3, min_pair_count=10**6).count() == 0
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
    dist = [
        tuple(r)
        for r in bpe_train(docs, n_merges=8).orderBy("merge_idx").collect()
    ]
    assert local == dist and len(local) == 8
    assert bpe_train(docs, n_merges=3, min_pair_count=10**6).count() == 0


@pytest.mark.nightly
def test_bpe_encode_long_merge_list_chunked(spark):
    """Round-7: 500+ merges must encode without unbounded Catalyst
    nesting — the chunked replay keeps >1 Project boundary in the
    optimized plan and still reproduces the trainer's segmentation."""
    from metadata_etl_framework_spark.ops.text import bpe_encode

    # 500 synthetic merges fusing a0..a499 progressively: only the first
    # few can ever fire on the data, the rest exercise plan depth only
    merges = [("x", "y")] + [(f"a{i}", "b") for i in range(499)]
    docs = spark.createDataFrame(
        [(0, "xy xyz axy"), (1, "plain words here")],
        "doc_id long, text string",
    )
    enc = bpe_encode(docs, merges)
    n_projects = enc._jdf.queryExecution().optimizedPlan().toString().count(
        "Project ["
    )
    assert n_projects >= 2, f"chunk boundaries collapsed: {n_projects} Projects"
    rows = {r.doc_id: r for r in enc.collect()}
    assert list(rows[0].bpe_tokens) == ["xy", "xy", "z", "a", "xy"]
    assert rows[1].n_bpe_real == len("plainwordshere")


def test_rake_keywords_scores_and_phrases(spark):
    docs = spark.createDataFrame(
        [
            (1, "deep learning of deep networks is the deep learning way"),
            (2, "gradient descent, and gradient descent"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    from metadata_etl_framework_spark.ops.text import rake_keywords

    out = rake_keywords(docs, "text", top_k=10).collect()
    rows = {r["phrase"]: r for r in out}
    # stopwords (of/is/the/and) split the candidate phrases
    assert "deep learning" in rows and "gradient descent" in rows
    assert rows["gradient descent"]["n_occurrences"] == 2
    assert rows["deep learning"]["n_words"] == 2
    # multi-word phrases built from high-degree words outrank singles
    single = [r for r in out if r["n_words"] == 1]
    multi = [r for r in out if r["n_words"] > 1]
    assert multi and max(r["score"] for r in multi) > max(
        (r["score"] for r in single), default=0.0
    )
    # scores are positive and the frame is rank-ordered
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_rake_max_phrase_words_gate(spark):
    docs = spark.createDataFrame(
        [(1, "one two three four five six seven")], "doc_id long, text string"
    )
    from metadata_etl_framework_spark.ops.text import rake_keywords

    # the 7-word stopword-free run exceeds the cap -> dropped whole
    assert rake_keywords(docs, "text", max_phrase_words=4).count() == 0
    assert rake_keywords(docs, "text", max_phrase_words=7).count() == 1


def test_ab_always_valid_p_properties(spark):
    """mSPRT anytime p (ops/retention.py::ab_always_valid_p): a large
    real effect drives p -> 0; a null effect keeps p at 1 (the mixture
    LR <= 1 when theta = 0); monotone in evidence; closed form checked
    against the python replica."""
    import math

    from pyspark.sql import functions as F
    from metadata_etl_framework_spark.ops.retention import (
        ab_always_valid_p,
    )

    def frame(rate_a_num):
        return spark.range(2000).select(
            F.col("id").alias("user_id"),
            F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("v"),
            F.when(
                F.col("id") % 2 == 0,
                (F.col("id") % 10) < rate_a_num,
            ).otherwise((F.col("id") % 10) < 2).alias("c"),
        )

    strong = ab_always_valid_p(frame(8), "v", "c").first()
    null = ab_always_valid_p(frame(2), "v", "c").first()
    assert strong["always_valid_p"] < 0.001
    assert strong["significant_95"]
    assert null["always_valid_p"] == 1.0 and not null["significant_95"]
    # closed-form replica on the strong arm
    n_a, n_b = strong["n_a"], strong["n_b"]
    ca = round(strong["rate_a"] * n_a)
    cb = round(strong["rate_b"] * n_b)
    pooled = (ca + cb) / (n_a + n_b)
    v = pooled * (1 - pooled) * (1 / n_a + 1 / n_b)
    theta = ca / n_a - cb / n_b
    lr = math.sqrt(v / (v + 1.0)) * math.exp(
        theta * theta / (2.0 * v * (v + 1.0))
    )
    assert strong["always_valid_p"] == round(min(1.0, 1.0 / lr), 6)


def test_ab_always_valid_p_gates(spark):
    import pytest as _pt

    from pyspark.sql import functions as F
    from metadata_etl_framework_spark.ops.retention import (
        ab_always_valid_p,
    )

    df = spark.range(10).select(
        F.col("id").alias("user_id"), F.lit("A").alias("v"),
        F.lit(True).alias("c"),
    )
    with _pt.raises(ValueError, match="tau"):
        ab_always_valid_p(df, "v", "c", tau=0.0)
    with _pt.raises(ValueError, match="exactly 2"):
        ab_always_valid_p(df, "v", "c")


def test_proportion_wilson_ci(spark):
    from pyspark.sql import functions as F
    from metadata_etl_framework_spark.ops.retention import (
        proportion_wilson_ci,
    )

    rows = (
        # segment 'half': 50 units alternating conversion
        [(i, "half", i % 2 == 0) for i in range(50)]
        # segment 'none': 20 units, zero conversions (Wald would give
        # a zero-width interval here; Wilson must not)
        + [(100 + i, "none", False) for i in range(20)]
        # unit-level dedup: unit 200 converts on ONE of two rows
        + [(200, "dup", False), (200, "dup", True)]
    )
    df = spark.createDataFrame(rows, "user_id long, seg string, c boolean")
    out = {r["group"]: r for r in
           proportion_wilson_ci(df, "seg", "c").collect()}
    h = out["half"]
    assert h["n_units"] == 50 and h["rate"] == 0.5
    assert h["ci_lo"] < 0.5 < h["ci_hi"]
    assert 0.3 < h["ci_lo"] and h["ci_hi"] < 0.7
    n = out["none"]
    assert n["rate"] == 0.0 and n["ci_lo"] == 0.0
    assert 0.05 < n["ci_hi"] < 0.25  # Wilson stays open at p=0
    d = out["dup"]
    assert d["n_units"] == 1 and d["conversions"] == 1
    assert d["rate"] == 1.0 and d["ci_hi"] == 1.0 and d["ci_lo"] < 1.0


def test_containment_catches_embedded_doc(spark):
    """Asymmetric containment (ops/dedup.py::containment_pairs): a
    short doc fully embedded in a long one has C=1.0 in the
    inner->outer direction while Jaccard stays tiny — the case the
    symmetric statistic structurally misses."""
    from metadata_etl_framework_spark.ops.dedup import (
        containment_pairs,
        exact_jaccard_pairs,
    )

    inner = "alpha beta gamma delta epsilon"
    outer = inner + " " + " ".join(f"w{i} x{i} y{i}" for i in range(40))
    other = "zeta eta theta iota kappa completely different words here"
    df = spark.createDataFrame(
        [(1, inner), (2, outer), (3, other)], "doc_id long, text string"
    )
    out = {(r.id_inner, r.id_outer): r for r in
           containment_pairs(df, threshold=0.9).collect()}
    assert (1, 2) in out
    assert out[(1, 2)].containment == 1.0
    assert out[(1, 2)].inner_size == 3  # 5 tokens -> 3 shingles
    # the reverse direction does NOT qualify (outer mostly not inner)
    assert (2, 1) not in out
    # and Jaccard at the same bar finds nothing
    assert exact_jaccard_pairs(df, threshold=0.9).count() == 0


def test_containment_df_cap_is_conservative(spark):
    """Dropping a high-df shingle can only LOWER containment: with the
    cap at 1 every shared shingle is dropped and no pair survives."""
    from metadata_etl_framework_spark.ops.dedup import containment_pairs

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d e f")], "doc_id long, text string"
    )
    assert containment_pairs(df, threshold=0.5).count() > 0
    assert containment_pairs(
        df, threshold=0.5, max_shingle_df=1
    ).count() == 0


def test_containment_gates(spark):
    import pytest as _pt

    from metadata_etl_framework_spark.ops.dedup import containment_pairs

    df = spark.createDataFrame(
        [(i, "a b c d") for i in range(30)], "doc_id long, text string"
    )
    with _pt.raises(ValueError, match="exact_max_rows"):
        containment_pairs(df, exact_max_rows=10)
    with _pt.raises(ValueError, match="threshold"):
        containment_pairs(df, threshold=0.0)


def test_cox_ph_matches_python_reference(spark):
    """Round-13: Cox PH (Breslow) — the distributed suffix-sum Newton
    must agree with an independent plain-Python implementation of the
    same partial likelihood on a small cohort, and recover a positive
    effect wired into the hazard."""
    import math

    from metadata_etl_framework_spark.ops.retention import cox_ph

    # deterministic cohort: higher x → earlier event
    subs = []
    for i in range(60):
        x = (i % 5) / 2.0
        t = 1 + ((i * 7) % 10) + (4 - int(x)) * 3
        e = 1 if (i % 4) != 0 else 0
        subs.append((t, e, x))

    def py_cox(subjects, iters=3):
        beta = 0.0
        info = None
        for _ in range(iters):
            u, i_ = py_pass(subjects, beta)
            if not i_ > 0:
                return None, None
            beta = round(beta + u / i_, 12)
        _, info = py_pass(subjects, beta)
        return beta, info

    def py_pass(subjects, beta):
        # group by duration with pico rounding, then suffix sums
        grid = {}
        for t, e, x in subjects:
            bx = max(min(beta * x, 30.0), -30.0)
            w = math.exp(bx)
            g = grid.setdefault(t, [0, 0, 0, 0, 0])
            g[0] += round(w * 1e12)
            g[1] += round(x * w * 1e12)
            g[2] += round(x * x * w * 1e12)
            g[3] += e
            g[4] += round(x * e * 1e12)
        u = i_ = 0.0
        s0 = s1 = s2 = 0
        from decimal import Decimal

        ud = id_ = Decimal(0)
        for t in sorted(grid, reverse=True):
            g = grid[t]
            s0 += g[0]
            s1 += g[1]
            s2 += g[2]
            if g[3] > 0:
                r1 = float(s1) / float(s0)
                r2 = float(s2) / float(s0)
                ud += Decimal(repr(round(
                    g[4] / 1e12 - g[3] * r1, 10)))
                id_ += Decimal(repr(round(
                    g[3] * (r2 - r1 * r1), 10)))
        return float(ud), float(id_)

    ref_beta, ref_info = py_cox(subs)
    got = cox_ph(
        spark.createDataFrame(subs, "t long, e int, x double"),
        "t", "e", "x",
    ).collect()[0]
    assert got["n_subjects"] == 60
    assert abs(got["beta"] - ref_beta) < 1e-9, (got["beta"], ref_beta)
    assert abs(got["se"] - round(1.0 / math.sqrt(ref_info), 6)) < 1e-6
    # wired-in effect: higher covariate hazard → positive beta,
    # significant at any sane level
    assert got["beta"] > 0.3 and got["p_value"] < 0.05
    assert got["hazard_ratio"] == round(math.exp(got["beta"]), 6)


def test_cox_ph_null_covariate(spark):
    """A covariate carrying no signal: |z| small, p large; constant
    covariate: I = 0 → null inference row, not a crash."""
    from metadata_etl_framework_spark.ops.retention import cox_ph

    rows = [(1 + (i * 7) % 12, 1 if i % 3 else 0, float(i % 2))
            for i in range(80)]
    got = cox_ph(
        spark.createDataFrame(rows, "t long, e int, x double"),
        "t", "e", "x",
    ).collect()[0]
    assert got["p_value"] > 0.05
    const = cox_ph(
        spark.createDataFrame(
            [(t, e, 1.0) for t, e, _ in rows], "t long, e int, x double"
        ),
        "t", "e", "x",
    ).collect()[0]
    assert const["beta"] is None and const["p_value"] is None
