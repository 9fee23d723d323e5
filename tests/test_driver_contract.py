"""Invariants of the driver contract surface (__spark_entry__) and of
the key registry behind it (driver_keys).

The correctness gate executes the queries() entries and joins them with
oracle_sql(); these tests pin the shape so a refactor can't silently
shrink the gate or orphan an oracle. None of them starts Spark."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from driver_keys import REGISTRY, register, tagged


# The correctness gate's keys, in order. Pinned as a literal so a
# refactor of the registry cannot reorder, drop or add a gate key.
DRIVER_KEYS = [
    "q1_pricing_summary",
    "drift_suite",
    "curation_funnel",
    "corpus_split_leakage_safe",
    "dq_suite",
    "dq_rules_onepass",
    "anomaly_suite",
    "step_sqltransform",
    "sql_q3_shipping_priority",
    "incr_merge_upsert",
    "incr_scd2_apply",
    "graph_pmi_factors",
    "ann_ivf_pq",
    "multimodal_image_meta",
    "eval_retrieval_bm25",
    "recsys_user_brand_recs",
    "privacy_k_anonymity_customer",
    "privacy_dp_counts_orders",
    "embed_kmeans_summary",
    "embed_lof_bucketed",
    "nb_lang_docs",
    "glm_logit_orders",
    "glm_linear_lineitem",
    "graph_pmi_knn",
    "profile_robust_price",
    "dedup_containment_docs",
    "sketch_kll_rollup_price",
    "recsys_als_factors",
    "graph_betweenness_ring",
    "glm_cv_logit_orders",
    "events_cox_ph_multi",
    "eval_auc_delong_orders",
    "graph_link_prediction",
    "graph_assortativity_parts",
    "graph_modularity_brands",
    "glm_poisson_orders",
    "privacy_t_closeness_customer",
    "events_ar2_forecast",
    "events_esd_hourly",
    "eval_aipw_ate_orders",
    "text_textrank_keywords",
    "recsys_pop_recs",
    "recsys_eval_coverage",
    "glm_huber_lineitem",
    "stats_gmm2_price",
    "events_ab_ratio_delta",
    "glm_quantile_lineitem",
    "graph_greedy_modularity",
    "events_holt_winters",
    "graph_louvain_copurchase",
    "anomaly_dbscan_embeddings",
]


def test_driver_gate_is_the_pinned_keys_in_order():
    q = entry_mod.queries()
    assert list(q) == DRIVER_KEYS
    assert all(callable(f) for f in q.values())


def test_oracles_reference_only_existing_queries():
    q = {**entry_mod.queries(), **entry_mod.extra_queries()}
    o = {**entry_mod.oracle_sql(), **entry_mod.extra_oracle_sql()}
    orphans = set(o) - set(q)
    assert not orphans, orphans


def test_every_entry_is_oracle_backed():
    """Every entry has a DuckDB oracle EXCEPT the explicitly declared
    ROWS_ONLY_KEYS (non-SQL-expressible results — eigen-decomposition —
    pinned against numpy in tests/test_units.py instead). Anything else
    without an oracle is a contract failure, and a rows-only entry must
    never sit in the 50-entry hard driver gate."""
    q = {**entry_mod.queries(), **entry_mod.extra_queries()}
    o = {**entry_mod.oracle_sql(), **entry_mod.extra_oracle_sql()}
    assert set(q) - set(o) == set(entry_mod.ROWS_ONLY_KEYS)
    assert not set(entry_mod.ROWS_ONLY_KEYS) & set(entry_mod.queries())
    # rows-only stays an exceptional, enumerated state — never a bucket
    assert len(entry_mod.ROWS_ONLY_KEYS) <= 2


def test_no_duplicate_keys_between_driver_and_extras():
    dk = list(entry_mod.queries())
    ek = list(entry_mod.extra_queries())
    assert len(dk) == len(set(dk))
    assert len(ek) == len(set(ek))
    assert not set(dk) & set(ek)


def test_driver_oracle_coverage_is_fifty_of_fifty():
    # every driver entry is oracle-backed
    assert len(entry_mod.oracle_sql()) == len(entry_mod.queries())


def test_rows_only_keys_are_pinned():
    assert entry_mod.ROWS_ONLY_KEYS == {"embed_pca_project", "embed_mahalanobis"}


def test_registering_a_key_twice_raises():
    before = REGISTRY["q1_pricing_summary"]
    with pytest.raises(ValueError, match="registered twice"):
        register(
            "q1_pricing_summary", build=before.build, oracle=before.oracle
        )
    assert REGISTRY["q1_pricing_summary"] is before


def test_unknown_tag_raises():
    with pytest.raises(ValueError, match="unknown tags"):
        register("no_such_key", build=None, oracle=None, tags=("headine",))
    assert "no_such_key" not in REGISTRY


def test_every_gated_key_is_a_headline_key():
    gated, headline = tagged("gated"), tagged("headline")
    assert gated and set(gated) <= set(headline)
    assert len(headline) == 132 and len(gated) == 24
