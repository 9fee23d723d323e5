"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (TPC-H Q1 shape expressed in
the engine's step vocabulary) on sf0.001. ``queries()`` exposes the
driver keys and ``extra_queries()`` every other key; ``oracle_sql()``
and ``extra_oracle_sql()`` give the DuckDB-equivalent SQL for each.
Every key is declared once, as a record in the ``driver_keys`` package
(query function, oracle, tags); this module only reads that registry.

Numeric-parity convention used throughout (SURVEY §7.8): floating
aggregates are accumulated as DECIMAL (exact, order-independent) and cast
back to DOUBLE, so Spark and DuckDB agree bitwise regardless of partition
count. min/max/count and raw pass-through doubles need no treatment.
Derived per-row doubles replay identical IEEE ops in both engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from driver_keys import REGISTRY

SF001 = "/root/testdata/sf0.001"

# The hard correctness gate, frozen in this order: no key may
# leave it (rotations stopped at round 16, whose native-DBSCAN key was
# appended as entry 51). Every other registered key is an extra, still
# verified against its oracle by tests/test_oracle_parity.py.
DRIVER_KEYS = (
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
)

# Keys whose results are NOT SQL-expressible (eigen-decomposition:
# component signs/order come from the driver eigh, which DuckDB cannot
# replay) register no oracle. They are verified instead by numpy parity
# pins in tests/test_units.py and executed for rows/schema stability by
# the local parity suite. tests/test_driver_contract.py pins this set,
# and a rows-only key must never sit in the driver gate.
ROWS_ONLY_KEYS = frozenset(k for k, r in REGISTRY.items() if r.oracle is None)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["q1_pricing_summary"].build(spark, SF001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: REGISTRY[k].build for k in DRIVER_KEYS}


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered key outside the driver gate (local parity)."""
    return {k: r.build for k, r in REGISTRY.items() if k not in DRIVER_KEYS}


def oracle_sql() -> dict[str, str]:
    return {
        k: REGISTRY[k].oracle
        for k in DRIVER_KEYS
        if REGISTRY[k].oracle is not None
    }


def extra_oracle_sql() -> dict[str, str]:
    """Oracles of the extra keys (rows-only keys have none)."""
    return {
        k: r.oracle
        for k, r in REGISTRY.items()
        if k not in DRIVER_KEYS and r.oracle is not None
    }
