"""Evaluation keys: classification, ranking, regression, retrieval,
text-overlap and causal-effect metrics."""

from __future__ import annotations

from pyspark.sql import functions as F

from driver_keys.common import (
    _bm25_join_sql,
    _BM25_QUERIES,
    _hash32_cte_sql,
    _t,
)
from driver_keys.registry import oracle_of, register


def _eval_auc_orders(spark, sf_dir):
    """Exact distributed ROC AUC (ops/evaluation.py::binary_auc):
    Mann–Whitney average-rank-sum over the DISTINCT-score frame with the
    two-phase global prefix sum — score o_totalprice vs the urgent-
    priority label; decimal rank-sum accumulation."""
    from metadata_etl_framework_spark.ops.evaluation import binary_auc

    o = _t(spark, sf_dir, "orders").withColumn(
        "is_urgent", F.col("o_orderpriority") == "1-URGENT"
    )
    return binary_auc(o, "o_totalprice", "is_urgent")


def _eval_auc_delong_orders(spark, sf_dir):
    """ROC AUC with DeLong SE + 95% CI (ops/evaluation.py::
    auc_delong): structural-component variance in closed form from
    EXACT integer placement moments on the distinct-score grid (one
    dual prefix scan + two grid aggregates) — the inference companion
    of eval_auc_orders, at one-pass cost where a bootstrap needs
    hundreds."""
    from metadata_etl_framework_spark.ops.evaluation import auc_delong

    o = _t(spark, sf_dir, "orders").withColumn(
        "is_urgent", F.col("o_orderpriority") == "1-URGENT"
    )
    return auc_delong(o, "o_totalprice", "is_urgent")


def _eval_lift_orders(spark, sf_dir):
    """Decile lift/gains table (ops/evaluation.py::lift_table): exact
    descending-NTILE buckets via the scale-safe ntile_assign, cumulative
    capture over the 10-row grid."""
    from metadata_etl_framework_spark.ops.evaluation import lift_table

    o = _t(spark, sf_dir, "orders").withColumn(
        "is_urgent", F.col("o_orderpriority") == "1-URGENT"
    )
    return lift_table(o, "o_totalprice", "is_urgent", "o_orderkey")


def _eval_calibration_orders(spark, sf_dir):
    """Reliability-diagram bins (ops/evaluation.py::calibration_bins):
    a deterministic pseudo-probability ((o_orderkey mod 101)/100 —
    exercises the inclusive-top-edge clamp) against the urgent label;
    one bounds-free projection + one groupBy(bin)."""
    from metadata_etl_framework_spark.ops.evaluation import (
        calibration_bins,
    )

    o = _t(spark, sf_dir, "orders").select(
        ((F.col("o_orderkey") % 101) / F.lit(100.0)).alias("p_hat"),
        (F.col("o_orderpriority") == "1-URGENT").alias("is_urgent"),
    )
    return calibration_bins(o, "p_hat", "is_urgent", n_bins=10)


def _eval_ece_orders(spark, sf_dir):
    """Expected Calibration Error roll-up (ops/evaluation.py::
    expected_calibration_error): n-weighted mean of the reliability
    table's 6-dp |gap|s over the same pseudo-probability as
    eval_calibration_orders; decimal-accumulated weighted sum."""
    from metadata_etl_framework_spark.ops.evaluation import (
        expected_calibration_error,
    )

    o = _t(spark, sf_dir, "orders").select(
        ((F.col("o_orderkey") % 101) / F.lit(100.0)).alias("p_hat"),
        (F.col("o_orderpriority") == "1-URGENT").alias("is_urgent"),
    )
    return expected_calibration_error(o, "p_hat", "is_urgent", n_bins=10)


def _eval_pr_auc_orders(spark, sf_dir):
    """Average precision / PR-AUC (ops/evaluation.py::pr_auc): the
    sklearn tie-block convention over the distinct-score frame — two
    global prefix scans + one decimal-accumulated 1-row aggregate;
    score o_totalprice vs the urgent-priority label."""
    from metadata_etl_framework_spark.ops.evaluation import pr_auc

    o = _t(spark, sf_dir, "orders").withColumn(
        "is_urgent", F.col("o_orderpriority") == "1-URGENT"
    )
    return pr_auc(o, "o_totalprice", "is_urgent")


def _eval_auc_by_status(spark, sf_dir):
    """Per-segment ROC AUC (ops/evaluation.py::binary_auc_by_group):
    the rank-sum closed form within each o_orderstatus segment —
    group-partitioned window over per-group distinct scores, identical
    DECIMAL arithmetic to the global AUC, replayed per group in SQL."""
    from metadata_etl_framework_spark.ops.evaluation import (
        binary_auc_by_group,
    )

    o = _t(spark, sf_dir, "orders").withColumn(
        "is_urgent", F.col("o_orderpriority") == "1-URGENT"
    )
    return binary_auc_by_group(
        o, "o_orderstatus", "o_totalprice", "is_urgent"
    )


def _eval_threshold_sweep_orders(spark, sf_dir):
    """Operating-point table (ops/evaluation.py::threshold_sweep): the
    full precision/recall/F1/accuracy sweep over every distinct score
    threshold — one groupBy(score) + two global prefix scans + one
    broadcast totals cross-join, the pr_auc scale shape with a
    row-per-threshold output."""
    from metadata_etl_framework_spark.ops.evaluation import threshold_sweep

    o = _t(spark, sf_dir, "orders").withColumn(
        "is_urgent", F.col("o_orderpriority") == "1-URGENT"
    )
    return threshold_sweep(o, "o_totalprice", "is_urgent")


def _eval_suite_orders(spark, sf_dir):
    """Tall (metric, value) score-audit frame compiled through the
    DECLARATIVE vocabulary (operators/step_compiler.py 'score_eval'
    step → ops/evaluation.py::score_eval_suite): AUC + PR-AUC + ECE
    over a probability-like score, the gate a curation pipeline
    thresholds the way it gates on drift_psi."""
    from metadata_etl_framework_spark.operators.step_compiler import (
        TransformEngine,
    )

    o = _t(spark, sf_dir, "orders").select(
        ((F.col("o_orderkey") % 101).cast("double") / F.lit(100.0))
        .alias("s"),
        (F.col("o_orderpriority") == "1-URGENT").alias("is_urgent"),
    ).where(F.col("o_orderkey").isNotNull()
            & F.col("o_orderpriority").isNotNull())
    return TransformEngine(spark).apply_transform_step(
        o,
        {
            "type": "score_eval",
            "config": {
                "score_column": "s",
                "label_column": "is_urgent",
                "metrics": ["auc", "pr_auc", "ece", "brier"],
                "n_bins": 10,
            },
        },
        {},
    )


# deterministic multi-class "prediction" for the classification-eval
# entries: o_orderkey % 6 mapped onto the five priority strings plus a
# never-true sixth class (exercises the full-outer / NULL-recall path)
_PRED_CLASSES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW", "X-NONE",
]


def _orders_with_pred_class(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderpriority").alias("label"),
        F.element_at(
            F.array(*[F.lit(c) for c in _PRED_CLASSES]),
            (F.col("o_orderkey") % 6 + 1).cast("int"),
        ).alias("pred"),
    )


def _eval_confusion_orders(spark, sf_dir):
    """Multi-class confusion matrix (ops/evaluation.py::
    confusion_matrix): one groupBy over (label, pred) — true
    o_orderpriority vs the deterministic orderkey-derived class."""
    from metadata_etl_framework_spark.ops.evaluation import confusion_matrix

    return confusion_matrix(
        _orders_with_pred_class(spark, sf_dir), "label", "pred"
    )


def _eval_multiclass_orders(spark, sf_dir):
    """Per-class precision/recall/F1/support (ops/evaluation.py::
    multiclass_metrics): sklearn classification_report table derived
    entirely from the bounded C²-row confusion grid; the never-true
    'X-NONE' predicted class exercises the NULL-recall convention."""
    from metadata_etl_framework_spark.ops.evaluation import (
        multiclass_metrics,
    )

    return multiclass_metrics(
        _orders_with_pred_class(spark, sf_dir), "label", "pred"
    )


def _eval_multiclass_summary_orders(spark, sf_dir):
    """1-row multi-class roll-up (ops/evaluation.py::
    multiclass_summary): accuracy, macro/weighted averages, Cohen's
    kappa — exact integer sums off the per-class grid."""
    from metadata_etl_framework_spark.ops.evaluation import (
        multiclass_summary,
    )

    return multiclass_summary(
        _orders_with_pred_class(spark, sf_dir), "label", "pred"
    )


def _orders_with_regression_pred(spark, sf_dir):
    # exact-decimal synthetic forecast: 0.95·y plus a ±50.0 sawtooth —
    # every intermediate stays decimal (no double→decimal cast anywhere)
    o = _t(spark, sf_dir, "orders")
    return o.select(
        F.col("o_totalprice").alias("y"),
        F.expr(
            "o_totalprice * CAST(0.95 AS DECIMAL(8,2))"
            " + CAST(o_orderkey % 1000 - 500 AS BIGINT)"
            " * CAST(0.1 AS DECIMAL(8,1))"
        ).alias("yhat"),
    )


def _eval_regression_orders(spark, sf_dir):
    """1-row regression scorecard (ops/evaluation.py::
    regression_metrics): MAE/RMSE/MAPE/R² with DECIMAL residual
    accumulation over a deterministic forecast of o_totalprice."""
    from metadata_etl_framework_spark.ops.evaluation import (
        regression_metrics,
    )

    return regression_metrics(
        _orders_with_regression_pred(spark, sf_dir), "yhat", "y"
    )


def _eval_pinball_orders(spark, sf_dir):
    """Quantile (pinball) loss at q=0.1/0.5/0.9 (ops/evaluation.py::
    pinball_loss): one conditional DECIMAL aggregate per quantile over
    a single residual scan."""
    from metadata_etl_framework_spark.ops.evaluation import pinball_loss

    return pinball_loss(
        _orders_with_regression_pred(spark, sf_dir), "yhat", "y",
        quantiles=(0.1, 0.5, 0.9),
    )


def _eval_retrieval_bm25(spark, sf_dir):
    """END-TO-END retrieval audit: the real bm25_join operator's top-5
    per query scored by retrieval_metrics against deterministic graded
    judgments — the composition that tells a curation pipeline whether
    its keyword retrieval actually surfaces the judged-relevant
    documents; BOTH stages replayed in one SQL oracle."""
    from metadata_etl_framework_spark.ops.evaluation import (
        retrieval_metrics,
    )
    from metadata_etl_framework_spark.ops.text import bm25_join

    d = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        _BM25_QUERIES, "query_id string, terms array<string>"
    )
    run = bm25_join(d, queries, k=5).select(
        F.col("query_id").alias("query"),
        F.col("doc_id").alias("doc"),
        F.col("score"),
    )
    qrels = (
        queries.select(F.col("query_id").alias("query"))
        .crossJoin(
            d.where(F.col("doc_id") % 5 == 0).select(
                F.col("doc_id").alias("doc"),
                (1 + F.col("doc_id") % 3).cast("int").alias("rel"),
            )
        )
    )
    return retrieval_metrics(run, qrels, k=5)


def _retrieval_run_qrels(spark, sf_dir):
    # deterministic run/qrels over documents: query = lang; candidates
    # are the doc_id % 3 slice scored by a tie-heavy sawtooth (exercises
    # the doc-ASC tie-break); judgments are the overlapping % 4 slice
    # with grades 1..3
    d = _t(spark, sf_dir, "documents")
    run = d.where(F.col("doc_id") % 3 == 0).select(
        F.col("lang").alias("query"),
        F.col("doc_id").alias("doc"),
        ((F.col("doc_id") * 7) % 101).cast("double").alias("score"),
    )
    qrels = d.where(F.col("doc_id") % 4 == 0).select(
        F.col("lang").alias("query"),
        F.col("doc_id").alias("doc"),
        (1 + F.col("doc_id") % 3).cast("int").alias("rel"),
    )
    return run, qrels


def _eval_retrieval_docs(spark, sf_dir):
    """Per-query TREC metrics (ops/evaluation.py::retrieval_metrics):
    P@10 / R@10 / RR / AP@10 / NDCG@10 of a deterministic candidate
    run against graded judgments — rank + ideal-DCG windows partition
    by query, (query, doc) equi-joins only."""
    from metadata_etl_framework_spark.ops.evaluation import (
        retrieval_metrics,
    )

    run, qrels = _retrieval_run_qrels(spark, sf_dir)
    return retrieval_metrics(run, qrels, k=10)


def _eval_retrieval_summary_docs(spark, sf_dir):
    """1-row retrieval roll-up (ops/evaluation.py::retrieval_summary):
    MAP/MRR/mean-NDCG over the per-query table's published 6dp
    values."""
    from metadata_etl_framework_spark.ops.evaluation import (
        retrieval_metrics,
        retrieval_summary,
    )

    run, qrels = _retrieval_run_qrels(spark, sf_dir)
    return retrieval_summary(retrieval_metrics(run, qrels, k=10))


def _doc_pairs(spark, sf_dir):
    # deterministic (candidate, reference) pairs for the generation-eval
    # entries: each document scored against its doc_id+1 neighbor — one
    # row-scale equi self-join, real token overlap from the shared
    # synthetic vocabulary
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    c = d.select(F.col("doc_id").alias("pid"), F.col("text").alias("cand"))
    r = d.select(
        (F.col("doc_id") - 1).alias("pid"), F.col("text").alias("ref")
    )
    return c.join(r, "pid", "inner")


def _eval_bleu_precisions_docs(spark, sf_dir):
    """Corpus modified n-gram precisions (ops/evaluation.py::
    bleu_ngram_precisions): every order 1..4 extracted in ONE nested
    higher-order-function projection per side, clipped by one
    (pair, n, gram) equi-join, collapsed onto the 4-row grid — integer
    counts end-to-end, tokenizer replayed verbatim in DuckDB."""
    from metadata_etl_framework_spark.ops.evaluation import (
        bleu_ngram_precisions,
    )

    return bleu_ngram_precisions(
        _doc_pairs(spark, sf_dir), "pid", "cand", "ref", max_n=4
    )


def _eval_bleu_docs(spark, sf_dir):
    """Corpus BLEU (ops/evaluation.py::bleu_corpus): BP · geometric
    mean of the unrounded modified precisions, brevity penalty from
    the summed corpus token lengths — 1-row output, all row-scale work
    shared with the precision grid."""
    from metadata_etl_framework_spark.ops.evaluation import bleu_corpus

    return bleu_corpus(_doc_pairs(spark, sf_dir), "pid", "cand", "ref")


def _eval_rouge2_docs(spark, sf_dir):
    """Per-pair ROUGE-2 (ops/evaluation.py::rouge_n): clipped bigram
    overlap as precision/recall/F1 per (candidate, reference) pair —
    one full-outer gram join keyed per pair, NULL ratios where a side
    has no bigrams."""
    from metadata_etl_framework_spark.ops.evaluation import rouge_n

    return rouge_n(_doc_pairs(spark, sf_dir), "pid", "cand", "ref", n=2)


def _eval_rouge_summary_docs(spark, sf_dir):
    """1-row ROUGE-2 corpus roll-up (ops/evaluation.py::
    rouge_summary): means of the published 6dp per-pair ratios, summed
    as exact DECIMAL before the one division (merge-order-independent
    at any pair count)."""
    from metadata_etl_framework_spark.ops.evaluation import (
        rouge_n,
        rouge_summary,
    )

    return rouge_summary(
        rouge_n(_doc_pairs(spark, sf_dir), "pid", "cand", "ref", n=2)
    )


def _orders_uplift_frame(spark, sf_dir):
    # deterministic uplift fixture: treatment = odd orderkey, outcome =
    # fulfilled, score = the orderkey sawtooth (tie-heavy, exercises
    # the deterministic NTILE tie-break)
    o = _t(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("id"),
        ((F.col("o_orderkey") * 7) % 101).cast("double").alias("s"),
        (F.col("o_orderkey") % 2 == 1).alias("t"),
        F.when(
            F.col("o_orderstatus").isNotNull(),
            F.col("o_orderstatus") == "F",
        ).alias("y"),
    )


def _eval_qini_orders(spark, sf_dir):
    """Uplift/Qini decile table (ops/evaluation.py::qini_table):
    exact-NTILE buckets on (-score, id), per-bucket treatment/control
    rates and the cumulative qini(k) curve — bounded-grid cumulative
    only; integer counts end-to-end."""
    from metadata_etl_framework_spark.ops.evaluation import qini_table

    return qini_table(
        _orders_uplift_frame(spark, sf_dir), "s", "t", "y", "id", 10
    )


def _eval_qini_coefficient_orders(spark, sf_dir):
    """1-row discrete Qini coefficient (ops/evaluation.py::
    qini_coefficient) over the decile grid — unit-width area minus the
    diagonal's."""
    from metadata_etl_framework_spark.ops.evaluation import (
        qini_coefficient,
        qini_table,
    )

    return qini_coefficient(
        qini_table(
            _orders_uplift_frame(spark, sf_dir), "s", "t", "y", "id", 10
        )
    )


def _eval_covariate_balance_orders(spark, sf_dir):
    """Treatment/control covariate balance (ops/evaluation.py::
    covariate_balance): SMD per numeric covariate from one
    stacked-columns scan with DECIMAL-exact sum/sum-of-squares arms —
    'price' is randomized-balanced, the constructed 'biased' column
    (+500 under treatment) must flag."""
    from metadata_etl_framework_spark.ops.evaluation import (
        covariate_balance,
    )

    o = _t(spark, sf_dir, "orders")
    frame = o.where(F.col("o_orderkey").isNotNull()).select(
        (F.col("o_orderkey") % 2 == 1).alias("t"),
        F.col("o_totalprice").alias("price"),
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 2 == 1, 500.0).otherwise(0.0)
        ).alias("biased"),
    )
    return covariate_balance(frame, "t", ["price", "biased"])


def _eval_ipw_ate_orders(spark, sf_dir):
    """Hájek IPW average treatment effect (ops/evaluation.py::
    ipw_ate): deterministic propensity fixture over orders — one
    projection, one 1-row aggregate, 12dp-DECIMAL weight sums."""
    from metadata_etl_framework_spark.ops.evaluation import ipw_ate

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderkey").isNotNull()
    ).select(
        (F.col("o_orderkey") % 2 == 1).alias("t"),
        F.col("o_totalprice").alias("y"),
        (
            F.lit(0.3)
            + ((F.col("o_orderkey") % 5).cast("double") / F.lit(10.0))
        ).alias("p"),
    )
    return ipw_ate(o, "t", "y", "p", clip=0.05)


def _eval_chrf_docs(spark, sf_dir):
    """Corpus chrF2 (ops/evaluation.py::chrf_score): character
    1..6-gram clipped precision/recall on the whitespace-stripped
    casefolded texts, macro-averaged over orders, F_beta=2 — the
    tokenization-free generation metric; same single-clip-join scale
    shape as BLEU."""
    from metadata_etl_framework_spark.ops.evaluation import chrf_score

    return chrf_score(_doc_pairs(spark, sf_dir), "pid", "cand", "ref")


# Mann-Whitney average-rank-sum AUC replay: same distinct-score
# grouping, inclusive prefix of block sizes, exact .5-step avg
# ranks (all values far below 2^53 so double arithmetic is exact
# and order-independent, matching the Spark decimal path)
register("eval_auc_orders", build=_eval_auc_orders, oracle="""
            WITH base AS (
              SELECT o_totalprice AS s,
                     CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1 ELSE 0 END AS y
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderpriority IS NOT NULL),
            per AS (SELECT s, COUNT(*) AS n, SUM(y) AS p
                    FROM base GROUP BY s),
            cum AS (SELECT n, p, SUM(n) OVER (ORDER BY s) AS c FROM per),
            tot AS (SELECT SUM(p) AS P, SUM(n - p) AS N,
                           SUM(CAST(p AS DOUBLE)
                               * (CAST(c - n AS DOUBLE)
                                  + CAST(n + 1 AS DOUBLE) / 2)) AS R
                    FROM cum)
            SELECT CAST(P AS BIGINT) AS n_pos,
                   CAST(N AS BIGINT) AS n_neg,
                   ROUND(CASE WHEN P > 0 AND N > 0 THEN
                           (R - CAST(P AS DOUBLE)
                                * CAST(P + 1 AS DOUBLE) / 2)
                           / (CAST(P AS DOUBLE) * CAST(N AS DOUBLE))
                         END, 6) AS auc
            FROM tot
        """)

# NTILE-over-DESC replay of ntile_assign's closed form: the
# window NTILE with the identical (-score, id) tie-break order
register("eval_lift_orders", build=_eval_lift_orders, oracle="""
            WITH base AS (
              SELECT o_orderkey AS id,
                     -CAST(o_totalprice AS DOUBLE) AS neg,
                     CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1 ELSE 0 END AS y
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderpriority IS NOT NULL),
            b AS (SELECT NTILE(10) OVER (ORDER BY neg, id) AS bucket, y
                  FROM base),
            grid AS (SELECT bucket, COUNT(*) AS n, SUM(y) AS positives
                     FROM b GROUP BY bucket),
            tot AS (SELECT SUM(n) AS tn, SUM(positives) AS tp FROM grid),
            cum AS (SELECT bucket, n, positives,
                           SUM(n) OVER (ORDER BY bucket) AS cum_n,
                           SUM(positives) OVER (ORDER BY bucket)
                             AS cum_positives
                    FROM grid)
            SELECT CAST(bucket AS INTEGER) AS bucket,
                   CAST(n AS BIGINT) AS n,
                   CAST(positives AS BIGINT) AS positives,
                   ROUND(CAST(positives AS DOUBLE) / n, 6) AS pos_rate,
                   ROUND(CASE WHEN tp > 0 THEN
                           (CAST(positives AS DOUBLE) / n)
                           / (CAST(tp AS DOUBLE) / tn) END, 6) AS lift,
                   CAST(cum_positives AS BIGINT) AS cum_positives,
                   ROUND(CASE WHEN tp > 0 THEN
                           CAST(cum_positives AS DOUBLE) / tp END, 6)
                     AS cum_capture_rate,
                   ROUND(CASE WHEN tp > 0 THEN
                           (CAST(cum_positives AS DOUBLE) / cum_n)
                           / (CAST(tp AS DOUBLE) / tn) END, 6) AS cum_lift
            FROM cum, tot
        """)

# fixed-width reliability bins: identical double bin arithmetic
# (floor(s/0.1) with edge clamp), DECIMAL(30,10) score sums
register("eval_calibration_orders", build=_eval_calibration_orders, oracle="""
            WITH base AS (
              SELECT CAST(o_orderkey % 101 AS DOUBLE) / 100.0 AS s,
                     CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1 ELSE 0 END AS y
              FROM orders
              WHERE o_orderkey IS NOT NULL
                AND o_orderpriority IS NOT NULL),
            binned AS (
              SELECT LEAST(9, GREATEST(0,
                       CAST(FLOOR(s / 0.1) AS INTEGER))) AS bin, s, y
              FROM base),
            agg AS (SELECT bin, COUNT(*) AS n,
                           SUM(CAST(s AS DECIMAL(30,10))) AS ss,
                           SUM(y) AS pos
                    FROM binned GROUP BY bin)
            SELECT bin,
                   ROUND(CAST(bin AS DOUBLE) * 0.1, 6) AS bin_lo,
                   ROUND(CAST(bin + 1 AS DOUBLE) * 0.1, 6) AS bin_hi,
                   CAST(n AS BIGINT) AS n,
                   ROUND(CAST(ss AS DOUBLE) / n, 6) AS avg_score,
                   ROUND(CAST(pos AS DOUBLE) / n, 6) AS pos_rate,
                   ROUND(ABS(CAST(ss AS DOUBLE) / n
                             - CAST(pos AS DOUBLE) / n), 6) AS abs_gap
            FROM agg
        """)

# ECE roll-up over the SAME reliability table (gaps at their
# published 6-dp rounding, n-weighted)
register("eval_ece_orders", build=_eval_ece_orders, oracle="""
            WITH base AS (
              SELECT CAST(o_orderkey % 101 AS DOUBLE) / 100.0 AS s,
                     CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1 ELSE 0 END AS y
              FROM orders
              WHERE o_orderkey IS NOT NULL
                AND o_orderpriority IS NOT NULL),
            binned AS (
              SELECT LEAST(9, GREATEST(0,
                       CAST(FLOOR(s / 0.1) AS INTEGER))) AS bin, s, y
              FROM base),
            agg AS (SELECT bin, COUNT(*) AS n,
                           SUM(CAST(s AS DECIMAL(30,10))) AS ss,
                           SUM(y) AS pos
                    FROM binned GROUP BY bin),
            bins AS (SELECT n,
                            ROUND(ABS(CAST(ss AS DOUBLE) / n
                                      - CAST(pos AS DOUBLE) / n), 6)
                              AS abs_gap
                     FROM agg)
            SELECT CAST(SUM(n) AS BIGINT) AS n,
                   CAST(COUNT(*) AS INTEGER) AS n_bins_nonempty,
                   ROUND(CASE WHEN SUM(n) > 0 THEN
                           CAST(SUM(CAST(n * abs_gap AS DECIMAL(38,10)))
                                AS DOUBLE) / SUM(n) END, 6) AS ece
            FROM bins
        """)

# average-precision replay: tie-block precision at each distinct
# score (rows/positives >= s from the ascending prefixes), terms
# rounded into DECIMAL(38,12) exactly like the Spark sum
register("eval_pr_auc_orders", build=_eval_pr_auc_orders, tags=("headline",), oracle="""
            WITH base AS (
              SELECT o_totalprice AS s,
                     CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1 ELSE 0 END AS y
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderpriority IS NOT NULL),
            per AS (SELECT s, COUNT(*) AS n, SUM(y) AS p
                    FROM base GROUP BY s),
            cum AS (SELECT n, p,
                           SUM(n) OVER (ORDER BY s) AS cn,
                           SUM(p) OVER (ORDER BY s) AS cp
                    FROM per),
            tot AS (SELECT SUM(n) AS tot_n, SUM(p) AS tot_p FROM cum),
            terms AS (
              SELECT CAST(CAST(cum.p AS DOUBLE)
                          * CAST(tot.tot_p - cum.cp + cum.p AS DOUBLE)
                          / CAST(tot.tot_n - cum.cn + cum.n AS DOUBLE)
                          AS DECIMAL(38,12)) AS term
              FROM cum, tot)
            SELECT CAST(tot_p AS BIGINT) AS n_pos,
                   CAST(tot_n - tot_p AS BIGINT) AS n_neg,
                   ROUND(CASE WHEN tot_p > 0 THEN
                           CAST((SELECT SUM(term) FROM terms) AS DOUBLE)
                           / CAST(tot_p AS DOUBLE) END, 6) AS pr_auc
            FROM tot
        """)

# per-segment rank-sum AUC replay: the eval_auc_orders closed
# form with every window/aggregate partitioned by o_orderstatus
register("eval_auc_by_status", build=_eval_auc_by_status, oracle="""
            WITH base AS (
              SELECT o_orderstatus AS g, o_totalprice AS s,
                     CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1 ELSE 0 END AS y
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderpriority IS NOT NULL
                AND o_orderstatus IS NOT NULL),
            per AS (SELECT g, s, COUNT(*) AS n, SUM(y) AS p
                    FROM base GROUP BY g, s),
            cum AS (SELECT g, n, p,
                           SUM(n) OVER (PARTITION BY g ORDER BY s) AS c
                    FROM per),
            tot AS (SELECT g, SUM(p) AS P, SUM(n - p) AS N,
                           SUM(CAST(p AS DOUBLE)
                               * (CAST(c - n AS DOUBLE)
                                  + CAST(n + 1 AS DOUBLE) / 2)) AS R
                    FROM cum GROUP BY g)
            SELECT g AS o_orderstatus,
                   CAST(P AS BIGINT) AS n_pos,
                   CAST(N AS BIGINT) AS n_neg,
                   ROUND(CASE WHEN P > 0 AND N > 0 THEN
                           (R - CAST(P AS DOUBLE)
                                * CAST(P + 1 AS DOUBLE) / 2)
                           / (CAST(P AS DOUBLE) * CAST(N AS DOUBLE))
                         END, 6) AS auc
            FROM tot
        """)

# operating-point sweep replay: confusion counts from the two
# ascending prefixes, fixed IEEE-double ratio op order (f1 as
# ((2*p)*r)/(p+r)); "precision" quoted (reserved word)
register(
    "eval_threshold_sweep_orders", build=_eval_threshold_sweep_orders,
    tags=("headline",),
    oracle="""
            WITH base AS (
              SELECT CAST(o_totalprice AS DOUBLE) AS s,
                     CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1 ELSE 0 END AS y
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderpriority IS NOT NULL),
            per AS (SELECT s, COUNT(*) AS n, SUM(y) AS p
                    FROM base GROUP BY s),
            cum AS (SELECT s, n, p,
                           SUM(n) OVER (ORDER BY s) AS cn,
                           SUM(p) OVER (ORDER BY s) AS cp
                    FROM per),
            tot AS (SELECT SUM(n) AS tot_n, SUM(p) AS tot_p FROM cum),
            m AS (SELECT s, n, p,
                         tot_n - cn + n AS pp,
                         tot_p - cp + p AS tp,
                         tot_n, tot_p
                  FROM cum, tot)
            SELECT s AS threshold,
                   CAST(pp AS BIGINT) AS n_pred_pos,
                   CAST(tp AS BIGINT) AS tp,
                   CAST(pp - tp AS BIGINT) AS fp,
                   CAST(tot_p - tp AS BIGINT) AS fn,
                   CAST((tot_n - pp) - (tot_p - tp) AS BIGINT) AS tn,
                   ROUND(CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE), 6)
                     AS "precision",
                   ROUND(CASE WHEN tot_p > 0 THEN
                           CAST(tp AS DOUBLE) / CAST(tot_p AS DOUBLE)
                         END, 6) AS recall,
                   ROUND(CASE WHEN tot_p > 0 AND tp > 0 THEN
                           2.0 * (CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE))
                               * (CAST(tp AS DOUBLE) / CAST(tot_p AS DOUBLE))
                           / ((CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE))
                              + (CAST(tp AS DOUBLE) / CAST(tot_p AS DOUBLE)))
                         END, 6) AS f1,
                   ROUND(CAST(tp + (tot_n - pp) - (tot_p - tp) AS DOUBLE)
                         / CAST(tot_n AS DOUBLE), 6) AS accuracy
            FROM m
        """,
)

# tall score-audit replay: the auc / pr_auc / ece closed forms
# over ONE shared base/per/cum scaffold, unioned as
# (metric, value) rows
register("eval_suite_orders", build=_eval_suite_orders, oracle="""
            WITH base AS (
              SELECT CAST(o_orderkey % 101 AS DOUBLE) / 100.0 AS s,
                     CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1 ELSE 0 END AS y
              FROM orders
              WHERE o_orderkey IS NOT NULL
                AND o_orderpriority IS NOT NULL),
            per AS (SELECT s, COUNT(*) AS n, SUM(y) AS p
                    FROM base GROUP BY s),
            cum AS (SELECT n, p,
                           SUM(n) OVER (ORDER BY s) AS cn,
                           SUM(p) OVER (ORDER BY s) AS cp
                    FROM per),
            atot AS (SELECT SUM(p) AS P, SUM(n - p) AS N,
                            SUM(CAST(p AS DOUBLE)
                                * (CAST(cn - n AS DOUBLE)
                                   + CAST(n + 1 AS DOUBLE) / 2)) AS R
                     FROM cum),
            ptot AS (SELECT SUM(n) AS tot_n, SUM(p) AS tot_p FROM cum),
            terms AS (
              SELECT CAST(CAST(cum.p AS DOUBLE)
                          * CAST(ptot.tot_p - cum.cp + cum.p AS DOUBLE)
                          / CAST(ptot.tot_n - cum.cn + cum.n AS DOUBLE)
                          AS DECIMAL(38,12)) AS term
              FROM cum, ptot),
            binned AS (
              SELECT LEAST(9, GREATEST(0,
                       CAST(FLOOR(s / 0.1) AS INTEGER))) AS bin, s, y
              FROM base),
            bagg AS (SELECT bin, COUNT(*) AS n,
                            SUM(CAST(s AS DECIMAL(30,10))) AS ss,
                            SUM(y) AS pos
                     FROM binned GROUP BY bin),
            bins AS (SELECT n,
                            ROUND(ABS(CAST(ss AS DOUBLE) / n
                                      - CAST(pos AS DOUBLE) / n), 6)
                              AS abs_gap
                     FROM bagg)
            SELECT 'n_pos' AS metric, CAST(P AS DOUBLE) AS value FROM atot
            UNION ALL
            SELECT 'n_neg', CAST(N AS DOUBLE) FROM atot
            UNION ALL
            SELECT 'auc',
                   ROUND(CASE WHEN P > 0 AND N > 0 THEN
                           (R - CAST(P AS DOUBLE)
                                * CAST(P + 1 AS DOUBLE) / 2)
                           / (CAST(P AS DOUBLE) * CAST(N AS DOUBLE))
                         END, 6) FROM atot
            UNION ALL
            SELECT 'pr_auc',
                   ROUND(CASE WHEN tot_p > 0 THEN
                           CAST((SELECT SUM(term) FROM terms) AS DOUBLE)
                           / CAST(tot_p AS DOUBLE) END, 6) FROM ptot
            UNION ALL
            SELECT 'ece',
                   ROUND(CASE WHEN SUM(n) > 0 THEN
                           CAST(SUM(CAST(n * abs_gap AS DECIMAL(38,10)))
                                AS DOUBLE) / SUM(n) END, 6) FROM bins
            UNION ALL
            SELECT 'brier',
                   ROUND(CASE WHEN COUNT(*) > 0 THEN
                           CAST(SUM(CAST((s - CAST(y AS DOUBLE))
                                         * (s - CAST(y AS DOUBLE))
                                         AS DECIMAL(30,12))) AS DOUBLE)
                           / COUNT(*) END, 6) FROM base
        """)


# round-10 classification / regression eval oracles. The multi-class
# entries replay the confusion-grid derivations; per-class F1 uses the
# UNROUNDED precision/recall while the summary averages the ROUNDED
# per-class columns (exactly what multiclass_summary consumes).
_MC_BASE_SQL = """
  SELECT o_orderpriority AS label,
         CASE CAST(o_orderkey % 6 AS INTEGER)
           WHEN 0 THEN '1-URGENT' WHEN 1 THEN '2-HIGH'
           WHEN 2 THEN '3-MEDIUM' WHEN 3 THEN '4-NOT SPECIFIED'
           WHEN 4 THEN '5-LOW' ELSE 'X-NONE' END AS pred
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderkey IS NOT NULL
"""

_MC_PER_CLASS_SQL = f"""
  WITH base AS ({_MC_BASE_SQL}),
  cm AS (SELECT label, pred, COUNT(*) AS n FROM base GROUP BY 1, 2),
  bl AS (SELECT label AS class, CAST(SUM(n) AS BIGINT) AS support,
                CAST(SUM(CASE WHEN label = pred THEN n ELSE 0 END)
                     AS BIGINT) AS tp
         FROM cm GROUP BY 1),
  bp AS (SELECT pred AS class, CAST(SUM(n) AS BIGINT) AS predicted
         FROM cm GROUP BY 1),
  j AS (SELECT COALESCE(bl.class, bp.class) AS class,
               COALESCE(support, 0) AS support,
               COALESCE(predicted, 0) AS predicted,
               COALESCE(tp, 0) AS tp
        FROM bl FULL OUTER JOIN bp ON bl.class = bp.class),
  m AS (SELECT class, support, predicted, tp,
               CASE WHEN predicted > 0
                    THEN CAST(tp AS DOUBLE) / predicted END AS prec,
               CASE WHEN support > 0
                    THEN CAST(tp AS DOUBLE) / support END AS rec
        FROM j)
  SELECT class, support, predicted, tp,
         ROUND(prec, 6) AS precision,
         ROUND(rec, 6) AS recall,
         ROUND(CASE WHEN predicted > 0 AND support > 0 AND prec + rec > 0
                    THEN 2 * prec * rec / (prec + rec) END, 6) AS f1
  FROM m
"""

# exact-decimal residual of the deterministic forecast (matches the
# DECIMAL(18,6) envelope regression_metrics/pinball_loss accumulate in)
_REG_BASE_SQL = """
  SELECT CAST(o_totalprice AS DECIMAL(18,6)) AS y,
         CAST(CAST(o_totalprice AS DECIMAL(18,6))
              - CAST(o_totalprice * CAST(0.95 AS DECIMAL(8,2))
                     + CAST(o_orderkey % 1000 - 500 AS BIGINT)
                       * CAST(0.1 AS DECIMAL(8,1)) AS DECIMAL(18,6))
              AS DECIMAL(18,6)) AS d
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
"""


def _pinball_arm_sql(q: str) -> str:
    return f"""
      SELECT CAST({q} AS DOUBLE) AS q, COUNT(*) AS n,
             ROUND(CAST(SUM(CAST(CASE WHEN d >= 0
                        THEN CAST({q} AS DECIMAL(8,6)) * d
                        ELSE (CAST({q} AS DECIMAL(8,6)) - 1) * d END
                        AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
               AS loss
      FROM base
    """


register("eval_confusion_orders", build=_eval_confusion_orders, oracle=f"""
            WITH base AS ({_MC_BASE_SQL})
            SELECT label, pred, COUNT(*) AS n FROM base GROUP BY 1, 2
        """)

register(
    "eval_multiclass_orders", build=_eval_multiclass_orders,
    oracle=_MC_PER_CLASS_SQL,
)

register(
    "eval_multiclass_summary_orders", build=_eval_multiclass_summary_orders,
    oracle=f"""
            WITH pc AS ({_MC_PER_CLASS_SQL}),
            s AS (SELECT SUM(support) AS n, COUNT(*) AS n_classes,
                         SUM(tp) AS tp,
                         AVG(precision) AS mp, AVG(recall) AS mr,
                         AVG(f1) AS mf,
                         SUM(support * COALESCE(f1, 0.0)) AS wf,
                         SUM(CAST(support AS DOUBLE)
                             * CAST(predicted AS DOUBLE)) AS sp
                  FROM pc)
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(n_classes AS BIGINT) AS n_classes,
                   ROUND(CAST(tp AS DOUBLE) / n, 6) AS accuracy,
                   ROUND(mp, 6) AS macro_precision,
                   ROUND(mr, 6) AS macro_recall,
                   ROUND(mf, 6) AS macro_f1,
                   ROUND(wf / n, 6) AS weighted_f1,
                   ROUND(CASE WHEN sp / (CAST(n AS DOUBLE) * n) < 1.0
                         THEN (CAST(tp AS DOUBLE) / n
                               - sp / (CAST(n AS DOUBLE) * n))
                              / (1.0 - sp / (CAST(n AS DOUBLE) * n))
                         END, 6) AS kappa
            FROM s
        """,
)

register(
    "eval_regression_orders", build=_eval_regression_orders, tags=("headline",),
    oracle=f"""
            WITH base AS ({_REG_BASE_SQL}),
            a AS (SELECT COUNT(*) AS n,
                         SUM(ABS(d)) AS sad,
                         SUM(CAST(CAST(d AS DECIMAL(19,6)) * d
                                  AS DECIMAL(38,12))) AS ssd,
                         SUM(y) AS sy,
                         SUM(CAST(CAST(y AS DECIMAL(19,6)) * y
                                  AS DECIMAL(38,12))) AS syy,
                         SUM(CASE WHEN y <> 0 THEN
                               ABS(CAST(d AS DOUBLE) / CAST(y AS DOUBLE))
                             END) AS sape,
                         SUM(CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS n_mape
                  FROM base)
            SELECT n,
                   ROUND(CAST(sad AS DOUBLE) / n, 6) AS mae,
                   ROUND(SQRT(CAST(ssd AS DOUBLE) / n), 6) AS rmse,
                   ROUND(CASE WHEN n_mape > 0 THEN sape / n_mape END, 6)
                     AS mape,
                   n_mape,
                   ROUND(CASE WHEN CAST(syy AS DOUBLE)
                                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                                     / n > 0
                         THEN 1.0 - CAST(ssd AS DOUBLE)
                              / (CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                                   / n)
                         END, 6) AS r2
            FROM a
        """,
)

register("eval_pinball_orders", build=_eval_pinball_orders, oracle=f"""
            WITH base AS ({_REG_BASE_SQL})
            {_pinball_arm_sql("0.1")}
            UNION ALL {_pinball_arm_sql("0.5")}
            UNION ALL {_pinball_arm_sql("0.9")}
        """)


# retrieval-eval oracles: full TREC arithmetic replay — rank window with
# the doc-ASC tie-break, cumulative-hit precision terms, graded
# 2^rel−1 DCG against the ideal ranking of the judgments. The builder
# takes any (query, doc, score) run and (query, doc, rel) qrels SQL so
# the same replay scores both the synthetic run and real operator
# output (the BM25 join below).
def _retrieval_sql(run_sql: str, qrels_sql: str, k: int) -> str:
    return f"""
  WITH run AS (
    SELECT * FROM ({run_sql})
    WHERE query IS NOT NULL AND doc IS NOT NULL AND score IS NOT NULL),
  qr AS (
    SELECT query, doc, CAST(rel AS INTEGER) AS rel FROM ({qrels_sql})
    WHERE query IS NOT NULL AND doc IS NOT NULL
      AND COALESCE(rel, 0) > 0),
  ranked AS (
    SELECT query, doc,
           ROW_NUMBER() OVER (PARTITION BY query
                              ORDER BY score DESC, doc ASC) AS rank
    FROM run),
  topk AS (
    SELECT r.query, r.rank, COALESCE(q.rel, 0) AS rel,
           CASE WHEN COALESCE(q.rel, 0) > 0 THEN 1 ELSE 0 END AS hit
    FROM ranked r
    LEFT JOIN qr q ON r.query = q.query AND r.doc = q.doc
    WHERE r.rank <= {k}),
  cum AS (
    SELECT *, SUM(hit) OVER (PARTITION BY query ORDER BY rank
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS crel
    FROM topk),
  pq AS (
    SELECT query, CAST(COUNT(*) AS BIGINT) AS n_ranked,
           CAST(SUM(hit) AS BIGINT) AS hits,
           MAX(CASE WHEN hit = 1
                    THEN CAST(1.0 AS DOUBLE) / rank END) AS rr0,
           SUM(CASE WHEN hit = 1
                    THEN CAST(crel AS DOUBLE) / rank END) AS apnum,
           SUM((POWER(2.0, rel) - 1) / LOG2(rank + 1)) AS dcg
    FROM cum GROUP BY query),
  ideal AS (
    SELECT query, CAST(COUNT(*) AS BIGINT) AS n_rel,
           SUM(CASE WHEN irank <= {k}
                    THEN (POWER(2.0, rel) - 1) / LOG2(irank + 1)
               END) AS idcg
    FROM (SELECT query, rel,
                 ROW_NUMBER() OVER (PARTITION BY query
                                    ORDER BY rel DESC, doc ASC) AS irank
          FROM qr) t
    GROUP BY query)
  SELECT p.query, p.n_ranked, COALESCE(i.n_rel, 0) AS n_rel, p.hits,
         ROUND(CAST(p.hits AS DOUBLE) / {k}, 6) AS precision_k,
         ROUND(CASE WHEN i.n_rel > 0
                    THEN CAST(p.hits AS DOUBLE) / i.n_rel END, 6)
           AS recall_k,
         ROUND(COALESCE(rr0, 0.0), 6) AS rr,
         ROUND(CASE WHEN i.n_rel > 0
                    THEN COALESCE(apnum, 0.0) / LEAST(i.n_rel, {k})
               END, 6) AS ap_k,
         ROUND(CASE WHEN idcg > 0 THEN dcg / idcg END, 6) AS ndcg_k
  FROM pq p LEFT JOIN ideal i ON p.query = i.query
"""


_RETRIEVAL_PER_QUERY_SQL = _retrieval_sql(
    """SELECT lang AS query, doc_id AS doc,
              CAST((doc_id * 7) % 101 AS DOUBLE) AS score
       FROM documents
       WHERE lang IS NOT NULL AND doc_id IS NOT NULL
         AND doc_id % 3 = 0""",
    """SELECT lang AS query, doc_id AS doc, 1 + doc_id % 3 AS rel
       FROM documents
       WHERE lang IS NOT NULL AND doc_id IS NOT NULL
         AND doc_id % 4 = 0""",
    10,
)


register(
    "eval_retrieval_bm25", build=_eval_retrieval_bm25, tags=("headline",),
    oracle=_retrieval_sql(
            f"""SELECT query_id AS query, doc_id AS doc, score
                FROM ({_bm25_join_sql()})""",
            """SELECT v.query AS query, d.doc_id AS doc,
                      1 + d.doc_id % 3 AS rel
               FROM (VALUES ('q_stream'), ('q_join'), ('q_scan'))
                    v(query), documents d
               WHERE d.doc_id % 5 = 0 AND d.doc_id IS NOT NULL""",
            5,
        ),
)

register(
    "eval_retrieval_docs", build=_eval_retrieval_docs,
    oracle=_RETRIEVAL_PER_QUERY_SQL,
)

register("eval_retrieval_summary_docs", build=_eval_retrieval_summary_docs, oracle=f"""
            WITH per_query AS ({_RETRIEVAL_PER_QUERY_SQL})
            SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
                   ROUND(AVG(precision_k), 6) AS mean_precision_k,
                   ROUND(AVG(recall_k), 6) AS mean_recall_k,
                   ROUND(AVG(rr), 6) AS mrr,
                   ROUND(AVG(ap_k), 6) AS map_k,
                   ROUND(AVG(ndcg_k), 6) AS mean_ndcg_k
            FROM per_query
        """)


# generation-eval oracles (ops/evaluation.py BLEU/ROUGE): the
# tokenizer (regex split + casefold), the per-order gram slicing, the
# clip join and the BP/geometric-mean arithmetic replayed step-for-step
_GEN_PAIRS_SQL = """
  SELECT c.doc_id AS pid, c.text AS cand, r.text AS ref
  FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
"""

_GEN_TOK_SQL = (
    "list_filter(string_split_regex(lower(trim(coalesce({col}, ''))),"
    " '\\s+'), x -> x <> '')"
)


def _gen_gram_arms_sql(tok_cte: str, max_n: int) -> str:
    """UNION ALL arms emitting (pid, n, g) for every order 1..max_n
    from a (pid, l) token-list CTE — l[i:i+n-1] is DuckDB's inclusive
    1-based slice, matching Spark's slice(l, i, n)."""
    arms = []
    for n in range(1, max_n + 1):
        arms.append(
            f"""SELECT pid, {n} AS n,
                unnest(list_transform(
                  range(1, greatest(len(l) - {n} + 1, 0) + 1),
                  i -> array_to_string(l[i:i+{n - 1}], chr(1)))) AS g
                FROM {tok_cte}"""
        )
    return " UNION ALL ".join(arms)


def _gen_clip_cte_sql(max_n: int) -> str:
    """Shared CTE chain: pairs → tokens → per-side gram counts →
    per-order clipped/total sums (the corpus modified-precision
    numerators/denominators)."""
    return f"""
      pairs AS ({_GEN_PAIRS_SQL}),
      ct AS (SELECT pid, {_GEN_TOK_SQL.format(col="cand")} AS l
             FROM pairs),
      rt AS (SELECT pid, {_GEN_TOK_SQL.format(col="ref")} AS l
             FROM pairs),
      cg AS (SELECT pid, n, g, COUNT(*) AS cnt
             FROM ({_gen_gram_arms_sql("ct", max_n)}) GROUP BY 1, 2, 3),
      rg AS (SELECT pid, n, g, COUNT(*) AS rcnt
             FROM ({_gen_gram_arms_sql("rt", max_n)}) GROUP BY 1, 2, 3),
      cl AS (SELECT cg.n,
                    SUM(LEAST(cg.cnt, COALESCE(rg.rcnt, 0))) AS clipped,
                    SUM(cg.cnt) AS total
             FROM cg LEFT JOIN rg
               ON cg.pid = rg.pid AND cg.n = rg.n AND cg.g = rg.g
             GROUP BY 1)
    """


register("eval_bleu_precisions_docs", build=_eval_bleu_precisions_docs, oracle=f"""
            WITH {_gen_clip_cte_sql(4)}
            SELECT CAST(g.n AS INTEGER) AS n,
                   CAST(COALESCE(cl.clipped, 0) AS BIGINT) AS clipped,
                   CAST(COALESCE(cl.total, 0) AS BIGINT) AS total,
                   ROUND(CASE WHEN COALESCE(cl.total, 0) > 0
                         THEN CAST(COALESCE(cl.clipped, 0) AS DOUBLE)
                              / CAST(cl.total AS DOUBLE) END, 6) AS p
            FROM (SELECT UNNEST([1, 2, 3, 4]) AS n) g
            LEFT JOIN cl ON g.n = cl.n
        """)

register("eval_bleu_docs", build=_eval_bleu_docs, tags=("headline",), oracle=f"""
            WITH {_gen_clip_cte_sql(4)},
            lp AS (SELECT SUM(CASE WHEN clipped > 0 AND total > 0
                              THEN LN(CAST(clipped AS DOUBLE)
                                      / CAST(total AS DOUBLE)) END)
                            AS lp_sum,
                          SUM(CASE WHEN clipped > 0 AND total > 0
                              THEN 1 ELSE 0 END) AS orders_pos
                   FROM cl),
            lens AS (SELECT (SELECT COUNT(*) FROM pairs) AS n_pairs,
                            (SELECT COALESCE(SUM(len(l)), 0) FROM ct)
                              AS cand_len,
                            (SELECT COALESCE(SUM(len(l)), 0) FROM rt)
                              AS ref_len),
            b AS (SELECT n_pairs, cand_len, ref_len, lp_sum, orders_pos,
                         CASE WHEN cand_len >= ref_len THEN 1.0
                              ELSE EXP(1.0 - CAST(ref_len AS DOUBLE)
                                             / CAST(cand_len AS DOUBLE))
                              END AS bp
                  FROM lens, lp)
            SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
                   CAST(cand_len AS BIGINT) AS cand_len,
                   CAST(ref_len AS BIGINT) AS ref_len,
                   ROUND(CASE WHEN cand_len > 0 THEN bp ELSE 0.0 END, 6)
                     AS bp,
                   ROUND(CASE WHEN orders_pos = 4 AND cand_len > 0
                         THEN bp * EXP(lp_sum / 4.0) ELSE 0.0 END, 6)
                     AS bleu
            FROM b
        """)

register("eval_rouge2_docs", build=_eval_rouge2_docs, oracle=f"""
            WITH {_gen_clip_cte_sql(2)},
            cg2 AS (SELECT pid, g, cnt FROM cg WHERE n = 2),
            rg2 AS (SELECT pid, g, rcnt FROM rg WHERE n = 2),
            pp AS (SELECT COALESCE(cg2.pid, rg2.pid) AS pid,
                          SUM(LEAST(COALESCE(cg2.cnt, 0),
                                    COALESCE(rg2.rcnt, 0))) AS overlap,
                          SUM(COALESCE(cg2.cnt, 0)) AS cand_total,
                          SUM(COALESCE(rg2.rcnt, 0)) AS ref_total
                   FROM cg2 FULL OUTER JOIN rg2
                     ON cg2.pid = rg2.pid AND cg2.g = rg2.g
                   GROUP BY 1),
            base AS (SELECT p.pid,
                            COALESCE(pp.overlap, 0) AS overlap,
                            COALESCE(pp.cand_total, 0) AS cand_total,
                            COALESCE(pp.ref_total, 0) AS ref_total
                     FROM (SELECT DISTINCT pid FROM pairs) p
                     LEFT JOIN pp ON p.pid = pp.pid),
            r AS (SELECT pid, overlap, cand_total, ref_total,
                         CASE WHEN cand_total > 0
                              THEN CAST(overlap AS DOUBLE) / cand_total
                              END AS prec,
                         CASE WHEN ref_total > 0
                              THEN CAST(overlap AS DOUBLE) / ref_total
                              END AS rec
                  FROM base)
            SELECT pid, CAST(overlap AS BIGINT) AS overlap,
                   CAST(cand_total AS BIGINT) AS cand_total,
                   CAST(ref_total AS BIGINT) AS ref_total,
                   ROUND(prec, 6) AS precision,
                   ROUND(rec, 6) AS recall,
                   ROUND(CASE WHEN prec IS NOT NULL AND rec IS NOT NULL
                         THEN CASE WHEN prec + rec > 0
                              THEN 2.0 * prec * rec / (prec + rec)
                              ELSE 0.0 END END, 6) AS f1
            FROM r
        """)

register("eval_rouge_summary_docs", build=_eval_rouge_summary_docs, oracle=f"""
            WITH per_pair AS ({oracle_of("eval_rouge2_docs")})
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   ROUND(CASE WHEN COUNT(precision) > 0
                         THEN CAST(SUM(CAST(precision AS DECIMAL(18,6)))
                                   AS DOUBLE) / COUNT(precision) END, 6)
                     AS mean_precision,
                   ROUND(CASE WHEN COUNT(recall) > 0
                         THEN CAST(SUM(CAST(recall AS DECIMAL(18,6)))
                                   AS DOUBLE) / COUNT(recall) END, 6)
                     AS mean_recall,
                   ROUND(CASE WHEN COUNT(f1) > 0
                         THEN CAST(SUM(CAST(f1 AS DECIMAL(18,6)))
                                   AS DOUBLE) / COUNT(f1) END, 6)
                     AS mean_f1
            FROM per_pair
        """)

# covariate-balance oracle (ops/evaluation.py::covariate_balance):
# the stacked per-arm DECIMAL sum / sum-of-squares and the SMD formula
register(
    "eval_covariate_balance_orders", build=_eval_covariate_balance_orders,
    oracle="""
            WITH base AS (
              SELECT CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END
                       AS t,
                     o_totalprice AS price,
                     o_totalprice + CASE WHEN o_orderkey % 2 = 1
                                    THEN 500.0 ELSE 0.0 END AS biased
              FROM orders WHERE o_orderkey IS NOT NULL),
            stacked AS (
              SELECT t, 'price' AS col, CAST(price AS DOUBLE) AS x
              FROM base WHERE price IS NOT NULL
              UNION ALL
              SELECT t, 'biased', CAST(biased AS DOUBLE)
              FROM base WHERE biased IS NOT NULL),
            arms AS (SELECT col, t, COUNT(*) AS n,
                            SUM(CAST(ROUND(x * 1000000, 0)
                                     AS HUGEINT)) AS sxi,
                            SUM(CAST(ROUND(x * 1000000, 0) AS HUGEINT)
                                * CAST(ROUND(x * 1000000, 0)
                                       AS HUGEINT)) AS sxxi
                     FROM stacked GROUP BY 1, 2),
            pa AS (SELECT col, t, n,
                          CAST(sxi AS DOUBLE) / n / 1000000.0 AS m,
                          CASE WHEN n > 1
                               THEN CAST(n * sxxi - sxi * sxi AS DOUBLE)
                                    / (CAST(n AS DOUBLE)
                                       * (CAST(n AS DOUBLE) - 1.0))
                                    / 1000000000000.0 END AS v
                   FROM arms),
            tr AS (SELECT col, n AS n_treat, m AS mt, v AS vt
                   FROM pa WHERE t = 1),
            ct AS (SELECT col, n AS n_ctrl, m AS mc, v AS vc
                   FROM pa WHERE t = 0)
            SELECT COALESCE(tr.col, ct.col) AS col,
                   CAST(COALESCE(n_treat, 0) AS BIGINT) AS n_treat,
                   CAST(COALESCE(n_ctrl, 0) AS BIGINT) AS n_ctrl,
                   ROUND(mt, 6) AS mean_treat,
                   ROUND(mc, 6) AS mean_ctrl,
                   ROUND(CASE WHEN vt IS NOT NULL AND vc IS NOT NULL
                              AND SQRT((vt + vc) / 2.0) > 0
                         THEN (mt - mc) / SQRT((vt + vc) / 2.0) END, 6)
                     AS smd,
                   CASE WHEN vt IS NOT NULL AND vc IS NOT NULL
                        AND SQRT((vt + vc) / 2.0) > 0
                   THEN ABS(ROUND((mt - mc) / SQRT((vt + vc) / 2.0),
                                  6)) > 0.1 END AS imbalanced
            FROM tr FULL OUTER JOIN ct ON tr.col = ct.col
        """,
)

# IPW ATE oracle (ops/evaluation.py::ipw_ate): the Hájek weighted
# means with 12dp-DECIMAL weight sums replayed
register("eval_ipw_ate_orders", build=_eval_ipw_ate_orders, oracle="""
            WITH base AS (
              SELECT CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END
                       AS t,
                     CAST(o_totalprice AS DOUBLE) AS y,
                     LEAST(GREATEST(
                       0.3 + CAST(o_orderkey % 5 AS DOUBLE) / 10.0,
                       0.05), 0.95) AS p
              FROM orders
              WHERE o_orderkey IS NOT NULL
                AND o_totalprice IS NOT NULL),
            agg AS (SELECT
              CAST(SUM(t) AS BIGINT) AS n_treat,
              CAST(SUM(1 - t) AS BIGINT) AS n_ctrl,
              CAST(SUM(CAST(ROUND(t / p, 12) AS DECIMAL(30,12)))
                   AS DOUBLE) AS swt,
              CAST(SUM(CAST(ROUND(t / p * y, 12) AS DECIMAL(30,12)))
                   AS DOUBLE) AS swty,
              CAST(SUM(CAST(ROUND((1 - t) / (1.0 - p), 12)
                   AS DECIMAL(30,12))) AS DOUBLE) AS swc,
              CAST(SUM(CAST(ROUND((1 - t) / (1.0 - p) * y, 12)
                   AS DECIMAL(30,12))) AS DOUBLE) AS swcy
              FROM base)
            SELECT n_treat, n_ctrl,
                   ROUND(CASE WHEN swt > 0 THEN swty / swt END, 6)
                     AS mean_treat_w,
                   ROUND(CASE WHEN swc > 0 THEN swcy / swc END, 6)
                     AS mean_ctrl_w,
                   ROUND(CASE WHEN swt > 0 AND swc > 0
                         THEN swty / swt - swcy / swc END, 6) AS ate
            FROM agg
        """)


# Qini/uplift oracles (ops/evaluation.py::qini_table /
# qini_coefficient): the exact-NTILE bucketing replayed by the window
# function, integer cumulatives, the discrete unit-width coefficient
_QINI_GRID_SQL = """
  WITH base AS (
    SELECT o_orderkey AS id,
           -(CAST((o_orderkey * 7) % 101 AS DOUBLE)) AS neg,
           CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END AS t,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
    FROM orders
    WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL),
  bk AS (SELECT NTILE(10) OVER (ORDER BY neg, id) AS bucket, t, y
         FROM base),
  grid AS (SELECT bucket,
                  SUM(t) AS n_treat,
                  SUM(1 - t) AS n_ctrl,
                  SUM(t * y) AS conv_treat,
                  SUM((1 - t) * y) AS conv_ctrl
           FROM bk GROUP BY 1),
  cum AS (SELECT *,
                 SUM(n_treat) OVER w AS cnt,
                 SUM(n_ctrl) OVER w AS cnc,
                 SUM(conv_treat) OVER w AS cyt,
                 SUM(conv_ctrl) OVER w AS cyc
          FROM grid
          WINDOW w AS (ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW))
  SELECT bucket,
         CAST(n_treat AS BIGINT) AS n_treat,
         CAST(n_ctrl AS BIGINT) AS n_ctrl,
         CAST(conv_treat AS BIGINT) AS conv_treat,
         CAST(conv_ctrl AS BIGINT) AS conv_ctrl,
         ROUND(CASE WHEN n_treat > 0
               THEN CAST(conv_treat AS DOUBLE) / n_treat END, 6)
           AS rate_treat,
         ROUND(CASE WHEN n_ctrl > 0
               THEN CAST(conv_ctrl AS DOUBLE) / n_ctrl END, 6)
           AS rate_ctrl,
         ROUND(CASE WHEN n_treat > 0 AND n_ctrl > 0
               THEN CAST(conv_treat AS DOUBLE) / n_treat
                    - CAST(conv_ctrl AS DOUBLE) / n_ctrl END, 6)
           AS uplift,
         ROUND(CASE WHEN cnc > 0
               THEN CAST(cyt AS DOUBLE)
                    - CAST(cyc AS DOUBLE) * CAST(cnt AS DOUBLE)
                      / CAST(cnc AS DOUBLE) END, 6) AS qini
  FROM cum
"""


register(
    "eval_qini_orders", build=_eval_qini_orders, tags=("headline",),
    oracle=_QINI_GRID_SQL,
)

register(
    "eval_qini_coefficient_orders", build=_eval_qini_coefficient_orders,
    oracle=f"""
            WITH g AS ({_QINI_GRID_SQL})
            SELECT CAST(COUNT(qini) AS BIGINT) AS n_buckets,
                   ROUND(CASE WHEN COUNT(qini) > 0
                         THEN CAST(SUM(CAST(qini AS DECIMAL(28,12)))
                              AS DOUBLE) / COUNT(qini) END, 6)
                     AS qini_auc,
                   ROUND((SELECT qini FROM g
                          WHERE bucket = (SELECT MAX(bucket) FROM g))
                         / 2.0, 6) AS qini_random,
                   ROUND(CASE WHEN COUNT(qini) > 0
                         THEN CAST(SUM(CAST(qini AS DECIMAL(28,12)))
                              AS DOUBLE) / COUNT(qini) END
                         - (SELECT qini FROM g
                            WHERE bucket =
                              (SELECT MAX(bucket) FROM g)) / 2.0, 6)
                     AS qini_coefficient
            FROM g
        """,
)


# chrF oracle: the whitespace-strip regex, the per-order substring
# slicing, the clip join and the decimal-summed macro-average replayed
def _chrf_gram_arms_sql(cte: str, max_n: int) -> str:
    arms = []
    for n in range(1, max_n + 1):
        arms.append(
            f"""SELECT pid, {n} AS n,
                unnest(list_transform(
                  range(1, greatest(length(c) - {n} + 1, 0) + 1),
                  i -> substr(c, i, {n}))) AS g
                FROM {cte}"""
        )
    return " UNION ALL ".join(arms)


register("eval_chrf_docs", build=_eval_chrf_docs, tags=("headline",), oracle=f"""
            WITH pairs AS ({_GEN_PAIRS_SQL}),
            ct AS (SELECT pid,
                          regexp_replace(lower(trim(coalesce(cand, ''))),
                                         '\\s+', '', 'g') AS c
                   FROM pairs),
            rt AS (SELECT pid,
                          regexp_replace(lower(trim(coalesce(ref, ''))),
                                         '\\s+', '', 'g') AS c
                   FROM pairs),
            cg AS (SELECT pid, n, g, COUNT(*) AS cnt
                   FROM ({_chrf_gram_arms_sql("ct", 6)})
                   GROUP BY 1, 2, 3),
            rg AS (SELECT pid, n, g, COUNT(*) AS rcnt
                   FROM ({_chrf_gram_arms_sql("rt", 6)})
                   GROUP BY 1, 2, 3),
            per_n AS (SELECT COALESCE(cg.n, rg.n) AS n,
                             SUM(LEAST(COALESCE(cg.cnt, 0),
                                       COALESCE(rg.rcnt, 0))) AS clipped,
                             SUM(COALESCE(cg.cnt, 0)) AS c_tot,
                             SUM(COALESCE(rg.rcnt, 0)) AS r_tot
                      FROM cg FULL OUTER JOIN rg
                        ON cg.pid = rg.pid AND cg.n = rg.n
                       AND cg.g = rg.g
                      GROUP BY 1),
            pr AS (SELECT
                     CASE WHEN c_tot > 0
                          THEN CAST(clipped AS DOUBLE) / c_tot END AS p,
                     CASE WHEN r_tot > 0
                          THEN CAST(clipped AS DOUBLE) / r_tot END AS r
                   FROM per_n),
            agg AS (SELECT
                      CASE WHEN COUNT(p) > 0
                           THEN CAST(SUM(CAST(ROUND(p, 12)
                                AS DECIMAL(28,12))) AS DOUBLE)
                                / COUNT(p) END AS ap,
                      CASE WHEN COUNT(r) > 0
                           THEN CAST(SUM(CAST(ROUND(r, 12)
                                AS DECIMAL(28,12))) AS DOUBLE)
                                / COUNT(r) END AS ar
                    FROM pr)
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs)
                     AS n_pairs,
                   ROUND(ap, 6) AS avg_precision,
                   ROUND(ar, 6) AS avg_recall,
                   ROUND(CASE WHEN ap IS NOT NULL AND ar IS NOT NULL
                         THEN CASE WHEN 4.0 * ap + ar > 0
                              THEN 5.0 * ap * ar / (4.0 * ap + ar)
                              ELSE 0.0 END END, 6) AS chrf
            FROM agg
        """)


# ---- round 11: conformal prediction audit (ops/evaluation.py) ----


def _eval_conformal_orders(spark, sf_dir):
    """Split-conformal interval audit (ops/evaluation.py::
    conformal_coverage): priority-mean 'model' for order value,
    hash-deterministic calibration split, finite-sample
    ⌈(n+1)(1−α)⌉ residual quantile, exact-ratio test coverage."""
    from metadata_etl_framework_spark.ops.evaluation import (
        conformal_coverage,
    )

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()
    )
    pm = o.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(30,10)")).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("pred")
    )
    scored = o.join(pm, "o_orderpriority").select(
        "o_orderkey", "o_totalprice", "pred"
    )
    return conformal_coverage(
        scored, "o_totalprice", "pred", "o_orderkey", alpha=0.1
    )


register("eval_conformal_orders", build=_eval_conformal_orders, oracle=f"""
            WITH pm AS (SELECT o_orderpriority,
                               ROUND(CAST(SUM(CAST(o_totalprice
                                                   AS DECIMAL(30,10)))
                                          AS DOUBLE) / COUNT(*), 6)
                                   AS pred
                        FROM orders WHERE o_totalprice IS NOT NULL
                        GROUP BY 1),
            {_hash32_cte_sql(
                "SELECT o_orderkey AS x, o_orderkey AS k, "
                "ABS(CAST(o_totalprice AS DOUBLE) - pred) AS s "
                "FROM orders JOIN pm USING (o_orderpriority) "
                "WHERE o_totalprice IS NOT NULL "
                "AND o_orderkey IS NOT NULL"
            )},
            base AS (SELECT k, s, h % 2 AS half FROM hh),
            calib AS (SELECT k, s FROM base WHERE half = 0),
            rk AS (SELECT s,
                          ROW_NUMBER() OVER (ORDER BY s, k) AS rn,
                          COUNT(*) OVER () AS n
                   FROM calib),
            q AS (SELECT COUNT(*) AS n_calib,
                         ROUND(MIN(CASE WHEN rn = LEAST(n,
                                       CEIL(CAST(0.9 AS DOUBLE)
                                            * CAST(n + 1 AS DOUBLE)))
                                        THEN s END), 6) AS q_hat
                  FROM rk),
            t AS (SELECT MIN(n_calib) AS n_calib,
                         MIN(q_hat) AS q_hat,
                         COUNT(*) AS n_test,
                         ROUND(CAST(SUM(CASE WHEN s <= q_hat
                                             THEN 1 ELSE 0 END)
                                    AS DOUBLE) / COUNT(*), 6)
                             AS coverage
                  FROM base, q WHERE half = 1)
            SELECT CAST(0.1 AS DOUBLE) AS alpha,
                   CAST(n_calib AS BIGINT) AS n_calib,
                   CAST(n_test AS BIGINT) AS n_test,
                   q_hat, coverage,
                   ROUND(2.0 * q_hat, 6) AS avg_width
            FROM t
        """)


# ---- round 11 close: stratified ATE + classical decomposition ----


def _eval_stratified_ate_orders(spark, sf_dir):
    """Propensity-stratified treatment effects (ops/evaluation.py::
    stratified_ate): exact-NTILE strata on a deterministic pseudo-
    propensity, within-stratum arm comparison with DECIMAL outcome
    sums — the transparent subclassification companion to IPW."""
    from metadata_etl_framework_spark.ops.evaluation import stratified_ate

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull()
    ).select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias(
            "treated"
        ),
        (
            ((F.col("o_custkey") % 100) + 1) / F.lit(102.0)
        ).alias("propensity"),
    )
    return stratified_ate(
        o, "treated", "o_totalprice", "propensity", "o_orderkey",
        n_strata=5,
    )


register("eval_stratified_ate_orders", build=_eval_stratified_ate_orders, oracle="""
            WITH base AS (SELECT o_orderkey AS id,
                                 CASE WHEN o_orderpriority IN
                                     ('1-URGENT', '2-HIGH')
                                      THEN 1 ELSE 0 END AS t,
                                 CAST(o_totalprice AS DOUBLE) AS y,
                                 ((o_custkey % 100) + 1) / 102.0 AS p
                          FROM orders
                          WHERE o_totalprice IS NOT NULL
                            AND o_custkey IS NOT NULL
                            AND o_orderkey IS NOT NULL),
            b AS (SELECT *,
                         NTILE(5) OVER (ORDER BY p, id) AS stratum
                  FROM base),
            per AS (SELECT stratum, COUNT(*) AS n, SUM(t) AS nt,
                           SUM(1 - t) AS nc,
                           SUM(CASE WHEN t = 1 THEN
                               CAST(y AS DECIMAL(30,10)) END) AS syt,
                           SUM(CASE WHEN t = 0 THEN
                               CAST(y AS DECIMAL(30,10)) END) AS syc
                    FROM b GROUP BY 1)
            SELECT CAST(stratum AS INT) AS stratum,
                   CAST(n AS BIGINT) AS n,
                   CAST(nt AS BIGINT) AS n_treat,
                   CAST(nc AS BIGINT) AS n_ctrl,
                   ROUND(CASE WHEN nt > 0
                              THEN CAST(syt AS DOUBLE) / nt END, 6)
                       AS mean_treat,
                   ROUND(CASE WHEN nc > 0
                              THEN CAST(syc AS DOUBLE) / nc END, 6)
                       AS mean_ctrl,
                   ROUND(CASE WHEN nt > 0 AND nc > 0
                              THEN CAST(syt AS DOUBLE) / nt
                                   - CAST(syc AS DOUBLE) / nc END, 6)
                       AS effect
            FROM per ORDER BY 1
        """)

register(
    "eval_auc_delong_orders", build=_eval_auc_delong_orders, tags=("headline",),
    oracle="""
            WITH base AS (
              SELECT CAST(o_totalprice AS DOUBLE) AS s,
                     CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1 ELSE 0 END AS y
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderpriority IS NOT NULL),
            grid AS (SELECT s, SUM(y) AS p, SUM(1 - y) AS n
                     FROM base GROUP BY s),
            scan AS (SELECT s, p, n,
                            SUM(n) OVER (ORDER BY s) - n AS negb,
                            SUM(p) OVER (ORDER BY s) AS cumpos
                     FROM grid),
            tot AS (SELECT SUM(p) AS m, SUM(n) AS nn,
                           SUM(CAST(p AS HUGEINT)
                               * (2 * negb + n)) AS a,
                           SUM(CAST(p AS HUGEINT)
                               * (2 * negb + n)
                               * (2 * negb + n)) AS q10
                    FROM scan),
            q01t AS (SELECT SUM(CAST(n AS HUGEINT)
                                * (2 * (m - cumpos) + p)
                                * (2 * (m - cumpos) + p)) AS q01
                     FROM scan, tot),
            d AS (SELECT CAST(m AS BIGINT) AS m,
                         CAST(nn AS BIGINT) AS nn,
                         CAST(a AS DOUBLE) AS a,
                         CAST(q10 AS DOUBLE) AS q10,
                         CAST(q01 AS DOUBLE) AS q01
                  FROM tot, q01t),
            e AS (SELECT m, nn, a / (2.0 * m * nn) AS auc, q10, q01
                  FROM d),
            f AS (SELECT m, nn, auc,
                         SQRT(GREATEST(0.0,
                             ((q10 / (4.0 * nn * nn) - m * auc * auc)
                              / (m - 1.0)) / m
                             + ((q01 / (4.0 * m * m) - nn * auc * auc)
                                / (nn - 1.0)) / nn)) AS se
                  FROM e)
            SELECT m AS n_pos, nn AS n_neg,
                   ROUND(auc, 6) AS auc, ROUND(se, 6) AS se,
                   ROUND(GREATEST(0.0, auc - 1.959964 * se), 6)
                       AS ci_lo,
                   ROUND(LEAST(1.0, auc + 1.959964 * se), 6)
                       AS ci_hi
            FROM f
        """,
)


# ---- round 13 (cont.): doubly-robust AIPW ATE (ops/evaluation.py) ----


def _eval_aipw_ate_orders(spark, sf_dir):
    """Doubly-robust AIPW treatment effect (ops/evaluation.py::
    aipw_ate): within-stratum arm means as the outcome model
    (exact-NTILE subclassification) + clipped IPW correction term,
    per-row psi rounded 12dp and DECIMAL-summed; no-overlap strata
    counted in strata_dropped, never extrapolated. Same deterministic
    fixture as the IPW/stratified panel keys."""
    from metadata_etl_framework_spark.ops.evaluation import aipw_ate

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull()
    ).select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias(
            "treated"
        ),
        (
            ((F.col("o_custkey") % 100) + 1) / F.lit(102.0)
        ).alias("propensity"),
    )
    return aipw_ate(
        o, "treated", "o_totalprice", "propensity", "o_orderkey",
        n_strata=5, clip=0.05,
    )


register(
    "eval_aipw_ate_orders", build=_eval_aipw_ate_orders, tags=("headline",),
    oracle="""
            WITH base AS (SELECT o_orderkey AS id,
                                 CASE WHEN o_orderpriority IN
                                     ('1-URGENT', '2-HIGH')
                                      THEN 1 ELSE 0 END AS t,
                                 CAST(o_totalprice AS DOUBLE) AS y,
                                 ((o_custkey % 100) + 1) / 102.0 AS p
                          FROM orders
                          WHERE o_totalprice IS NOT NULL
                            AND o_custkey IS NOT NULL
                            AND o_orderkey IS NOT NULL
                            AND o_orderpriority IS NOT NULL),
            b AS (SELECT *,
                         NTILE(5) OVER (ORDER BY p, id) AS stratum
                  FROM base),
            per AS (SELECT stratum, COUNT(*) AS ns, SUM(t) AS nt,
                           SUM(1 - t) AS nc,
                           SUM(CASE WHEN t = 1 THEN
                               CAST(y AS DECIMAL(30,10)) END) AS syt,
                           SUM(CASE WHEN t = 0 THEN
                               CAST(y AS DECIMAL(30,10)) END) AS syc
                    FROM b GROUP BY 1),
            used AS (SELECT stratum, ns,
                            CAST(syt AS DOUBLE) / nt AS mt,
                            CAST(syc AS DOUBLE) / nc AS mc
                     FROM per WHERE nt > 0 AND nc > 0),
            cnt AS (SELECT CAST(COUNT(*) AS INT) AS strata_total,
                           CAST(SUM(ns) AS BIGINT) AS n
                    FROM per),
            rws AS (SELECT b.stratum, b.t, b.y,
                           LEAST(GREATEST(b.p, 0.05), 0.95) AS pc,
                           used.mt, used.mc
                    FROM b JOIN used ON b.stratum = used.stratum),
            ra AS (SELECT COUNT(*) AS n_used,
                          CAST(COUNT(DISTINCT stratum) AS INT)
                              AS strata_used,
                          CAST(SUM(CAST(ROUND(
                              (mt - mc)
                              + t * (y - mt) / pc
                              - (1 - t) * (y - mc) / (1.0 - pc),
                              12) AS DECIMAL(30,12))) AS DOUBLE)
                              AS spsi,
                          CAST(SUM(CAST(ROUND(mt - mc, 12)
                                   AS DECIMAL(30,12))) AS DOUBLE)
                              AS sout
                   FROM rws)
            SELECT n,
                   CAST(COALESCE(n_used, 0) AS BIGINT) AS n_used,
                   COALESCE(strata_used, 0) AS strata_used,
                   CAST(strata_total - COALESCE(strata_used, 0)
                        AS INT) AS strata_dropped,
                   ROUND(CASE WHEN n_used > 0
                              THEN sout / n_used END, 6)
                       AS ate_outcome,
                   ROUND(CASE WHEN n_used > 0
                              THEN spsi / n_used END, 6)
                       AS ate_aipw
            FROM ra, cnt
        """,
)
