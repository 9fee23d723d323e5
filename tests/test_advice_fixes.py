"""Regression tests for the round-1 ADVICE findings.

Each test pins the exact failure mode reported:
1. scd2_apply dropped historical (is_current=False) versions of changed keys.
2. shingles() aborted the job for documents shorter than n tokens.
3. scheduler tick() double-fired within a matched minute, and sync firing
   made the concurrency policies unreachable.
4. foreach_batch_upsert wrote to *_next without advancing the target.
5. split_late_data dropped NULL-timestamp rows from both outputs.
"""

from __future__ import annotations

import datetime as dt
import threading
import time

import pytest

from pyspark.sql import functions as F

from metadata_etl_framework_spark.incremental.merge import (
    scd2_apply,
    split_late_data,
)
from metadata_etl_framework_spark.ops import dedup as dedup_ops
from metadata_etl_framework_spark.orchestrator.scheduler import (
    PipelineScheduler,
    Schedule,
)


# ---------------------------------------------------------------- scd2 history


def test_scd2_apply_preserves_history_rows(spark):
    """A dimension that already has closed versions must keep them when the
    same key changes again (ADVICE high #1)."""
    dim = spark.createDataFrame(
        [
            # key 1: one closed version + one current version
            (1, "v1", "2020-01-01 00:00:00", "2022-01-01 00:00:00", False),
            (1, "v2", "2022-01-01 00:00:00", None, True),
            # key 2: unchanged, also with history
            (2, "w1", "2020-01-01 00:00:00", "2021-01-01 00:00:00", False),
            (2, "w2", "2021-01-01 00:00:00", None, True),
        ],
        "k int, attr string, start_date string, end_date string, is_current boolean",
    ).select(
        "k", "attr",
        F.col("start_date").cast("timestamp").alias("start_date"),
        F.col("end_date").cast("timestamp").alias("end_date"),
        "is_current",
    )
    incoming = spark.createDataFrame(
        [(1, "v3"), (2, "w2")], "k int, attr string"
    )
    out = scd2_apply(dim, incoming, ["k"], ["attr"], "2024-06-01 00:00:00")
    rows = {(r.k, r.attr): r for r in out.collect()}

    # every pre-existing version survives
    assert set(rows) == {(1, "v1"), (1, "v2"), (1, "v3"), (2, "w1"), (2, "w2")}
    # the old history row is untouched
    assert rows[(1, "v1")].is_current is False
    assert rows[(1, "v1")].end_date == dt.datetime(2022, 1, 1)
    # the previously-current row closed at the effective ts
    assert rows[(1, "v2")].is_current is False
    assert rows[(1, "v2")].end_date == dt.datetime(2024, 6, 1)
    # the new version opened
    assert rows[(1, "v3")].is_current is True and rows[(1, "v3")].end_date is None
    # unchanged key: both versions exactly as before
    assert rows[(2, "w1")].is_current is False
    assert rows[(2, "w2")].is_current is True


# ------------------------------------------------------------- short shingles


def test_shingles_short_and_empty_docs(spark):
    """Docs with fewer than n tokens yield empty shingle arrays instead of
    crashing the job (ADVICE high #2)."""
    docs = spark.createDataFrame(
        [
            (1, "one two"),          # 2 tokens < n=3
            (2, ""),                 # empty
            (3, None),               # null text
            (4, "a b c d"),          # 2 shingles
        ],
        "doc_id int, text string",
    )
    out = docs.select(
        "doc_id", dedup_ops.shingles("text", 3).alias("sh")
    ).collect()
    got = {r.doc_id: r.sh for r in out}
    assert got[1] == []
    assert got[2] == []
    assert got[4] == ["a b c", "b c d"]
    # and the full minhash pipeline survives a mixed corpus
    sigs = dedup_ops.minhash_signatures(docs, num_hashes=8)
    assert sigs.count() == 4


# ---------------------------------------------------------------- scheduler


def test_scheduler_no_double_fire_within_minute():
    calls: list[int] = []
    sched = PipelineScheduler(lambda pid, trig: calls.append(pid))
    sched.add_schedule(Schedule(pipeline_id=1, cron="* * * * *"))
    t0 = dt.datetime(2026, 1, 5, 10, 0, 0)
    sched.tick(t0)
    sched.tick(t0 + dt.timedelta(seconds=30))  # same minute: must not refire
    assert calls == [1]
    sched.tick(t0 + dt.timedelta(minutes=1))
    assert calls == [1, 1]


def test_scheduler_async_concurrency_policies_reachable():
    release = threading.Event()

    def slow_executor(pid: int, trig: str):
        release.wait(10)
        return {"ok": True}

    sched = PipelineScheduler(slow_executor, async_executor=True)
    sched.add_schedule(
        Schedule(pipeline_id=1, cron="* * * * *", concurrency_policy="skip")
    )
    t0 = dt.datetime(2026, 1, 5, 10, 0, 0)
    first = sched.tick(t0)
    assert any(a["action"] == "started" for a in first)
    # wait until the worker registers as running
    for _ in range(100):
        if 1 in sched.running:
            break
        time.sleep(0.01)
    second = sched.tick(t0 + dt.timedelta(minutes=1))
    assert any(a["action"] == "skipped_concurrent" for a in second)
    release.set()
    sched.wait_idle()
    assert 1 not in sched.running


# ------------------------------------------------------------ late-data split


def test_split_late_data_routes_null_ts(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-10 00:00:00"), (2, "2024-01-20 00:00:00"), (3, None)],
        "id int, ts string",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    on_time, late = split_late_data(df, "ts", "2024-01-15 00:00:00")
    on_ids = {r.id for r in on_time.collect()}
    late_ids = {r.id for r in late.collect()}
    assert on_ids == {2}
    assert late_ids == {1, 3}          # null ts routes late, not dropped
    assert on_ids | late_ids == {1, 2, 3}
    assert not (on_ids & late_ids)


# ---------------------------------------------------- foreachBatch target swap


def test_foreach_batch_upsert_advances_target(spark, tmp_path):
    from metadata_etl_framework_spark.streaming.windows import (
        foreach_batch_upsert,
        streaming_file_source,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    base = spark.createDataFrame(
        [(1, "old"), (2, "old")], "k int, v string"
    )
    base.write.parquet(target)
    spark.createDataFrame(
        [(2, "new"), (3, "new")], "k int, v string"
    ).coalesce(1).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = streaming_file_source(spark, src, schema, max_files_per_trigger=10)
    q = foreach_batch_upsert(
        stream, target, ["k"], checkpoint=str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)

    got = {(r.k, r.v) for r in spark.read.parquet(target).collect()}
    # source rows won, unmatched target row kept — at the REAL target path
    assert got == {(1, "old"), (2, "new"), (3, "new")}


# ------------------------------------------------- repetition_metrics null text


def test_repetition_metrics_null_empty_whitespace_rows(spark):
    """NULL / empty / whitespace-only documents must report n_lines=0 and
    0.0 duplicate ratios — not NULL (or -1 under legacy sizeOfNull)
    (round-4 ADVICE low #1)."""
    from metadata_etl_framework_spark.ops.text import repetition_metrics

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   \n\t  \n "),
            (4, "a a a a"),          # control: real repetition
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in repetition_metrics(docs).collect()}

    for doc_id in (1, 2, 3):
        r = rows[doc_id]
        assert r.n_lines == 0, (doc_id, r)
        assert r.dup_line_ratio == 0.0, (doc_id, r)
        assert r.dup_2gram_ratio == 0.0, (doc_id, r)
        assert r.dup_3gram_ratio == 0.0, (doc_id, r)

    # control row: 4 unigram tokens -> 3 bigrams all "a a" => 2/3 repeats
    ctl = rows[4]
    assert ctl.n_lines == 1
    assert abs(ctl.dup_2gram_ratio - 2 / 3) < 1e-6
    assert abs(ctl.dup_3gram_ratio - 1 / 2) < 1e-6


# ------------------------------------------------- round-5 ADVICE regressions


def test_fingerprint_null_text_is_not_null(spark):
    """fingerprint() must coalesce NULL text to '' before hashing: a NULL
    fingerprint breaks every downstream equality — dedup groupBys lump
    NULL-text docs into one accidental group and membership probes go
    three-valued (round-5 ADVICE low #2/#3)."""
    from metadata_etl_framework_spark.ops.text import fingerprint

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "  "), (4, "real text")],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r.fingerprint for r in fingerprint(docs).collect()}
    assert all(v is not None for v in rows.values()), rows
    # NULL-text and empty-text docs are DELIBERATELY identical dups
    assert rows[1] == rows[2] == rows[3]
    assert rows[4] != rows[1]


def test_step_dedup_exact_null_text_keeps_canonical(spark):
    """step-compiler exact dedup on a corpus with NULL-text docs: the
    NULL/empty family collapses to its min-id doc by the documented
    empty-equivalence semantics — not by accident of a NULL partition —
    and real texts are untouched (round-5 ADVICE low #3)."""
    from metadata_etl_framework_spark.operators import TransformEngine

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "keep me"), (5, "keep me too")],
        "doc_id int, text string",
    )
    out = TransformEngine(spark).execute_transformations(
        {"docs": docs},
        {"primary_source": "docs",
         "steps": [{"type": "dedup", "config": {"method": "exact"}}]},
    )
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [1, 4, 5], kept


def test_incremental_dedup_null_text_probe_consistent(spark):
    """incremental_dedup: a NULL-text doc in the new batch must flag
    is_exact_dup=True when the seen corpus also has a NULL/empty-text doc
    (NULL fingerprints previously never matched the equality probe)."""
    new = spark.createDataFrame(
        [(10, None), (11, "fresh unseen content wholly new")],
        "doc_id int, text string",
    )
    seen = spark.createDataFrame(
        [(1, ""), (2, "some earlier document body here")],
        "doc_id int, text string",
    )
    rows = {
        r.doc_id: r
        for r in dedup_ops.incremental_dedup(new, seen, threshold=0.8).collect()
    }
    assert rows[10].is_exact_dup is True, rows[10]
    assert rows[11].is_exact_dup is False, rows[11]


def test_minhash_signatures_ignores_coincidental_sh_column(spark):
    """minhash_signatures must shingle from text_col even when the input
    coincidentally carries a `_sh` column — precomputed shingles are an
    explicit `_shingled` parameter now, not duck-typing (round-5 ADVICE
    low #4)."""
    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id int, text string",
    )
    decoy = base.withColumn(
        "_sh", F.array(F.lit("bogus shingle one"), F.lit("bogus shingle two"))
    )
    clean = {
        r.doc_id: r.minhash
        for r in dedup_ops.minhash_signatures(base, num_hashes=8).collect()
    }
    with_decoy = {
        r.doc_id: r.minhash
        for r in dedup_ops.minhash_signatures(decoy, num_hashes=8).collect()
    }
    assert clean == with_decoy


def test_tws_batch_path_does_not_touch_state_store_conf(spark):
    """tws_running_counts on a BATCH frame takes the groupBy fallback and
    must not mutate session conf (round-5 ADVICE low #5: the provider
    override is opt-in and documented session-wide for streaming)."""
    from metadata_etl_framework_spark.streaming.stateful import tws_running_counts

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "k string, v double")
    out = tws_running_counts(df, "k", "v").collect()
    assert spark.conf.get(key, None) == before
    assert out[0]["count"] == 2


def test_last_touch_tie_break_deterministic(spark):
    """Round-6 ADVICE low #1: two touches at the IDENTICAL timestamp must
    resolve by max(touch_id), not partition order."""
    from datetime import datetime

    from metadata_etl_framework_spark.ops.attribution import (
        attribute_conversions,
    )

    rows = [
        (1, 10, datetime(2024, 3, 1, 9), "click"),
        (2, 10, datetime(2024, 3, 1, 9), "view"),   # same instant as 1
        (3, 10, datetime(2024, 3, 1, 10), "purchase"),
    ]
    for rep in range(3):  # repartition shuffles row placement across runs
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string"
        ).repartition(4 + rep)
        out = {r.conversion_id: r for r in attribute_conversions(ev).collect()}
        assert out[3].touch_id == 2 and out[3].touch_type == "view"


def test_first_touch_never_credits_post_conversion(spark):
    """Round-6 ADVICE low #2: a touch AFTER the conversion must not win
    first-touch credit (no negative gap_seconds)."""
    from datetime import datetime

    from metadata_etl_framework_spark.ops.attribution import (
        attribute_conversions,
    )

    ev = spark.createDataFrame(
        [
            (1, 10, datetime(2024, 3, 2, 9), "purchase"),
            (2, 10, datetime(2024, 3, 3, 9), "click"),   # post-conversion only
            (3, 20, datetime(2024, 3, 1, 9), "click"),
            (4, 20, datetime(2024, 3, 2, 9), "purchase"),
            (5, 20, datetime(2024, 3, 2, 10), "view"),   # later, must not steal
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    out = {r.conversion_id: r for r in attribute_conversions(
        ev, model="first_touch").collect()}
    assert out[1].touch_id is None and out[1].gap_seconds is None
    assert out[4].touch_id == 3 and out[4].gap_seconds == 86400


def test_ab_test_excludes_cross_variant_units(spark):
    """Round-6 ADVICE low #3: a unit seen under BOTH variants is
    contaminated and must be dropped from both arms."""
    from metadata_etl_framework_spark.ops.retention import (
        ab_test_proportions,
    )

    rows = (
        [(u, "A", u < 2) for u in range(10)]
        + [(u + 100, "B", u < 5) for u in range(10)]
        + [(999, "A", True), (999, "B", True)]   # contaminated unit
    )
    df = spark.createDataFrame(
        rows, "user_id long, variant string, converted boolean"
    )
    r = ab_test_proportions(df, "variant", "converted").collect()[0]
    assert (r.n_a, r.n_b) == (10, 10)            # 999 counted in neither
    assert (r.rate_a, r.rate_b) == (0.2, 0.5)


def test_psi_vs_baseline_empty_reference_raises_value_error(spark, tmp_path):
    """Round-6 ADVICE low #5: an all-null reference writes an empty
    baseline; psi_vs_baseline must raise the documented ValueError, not
    TypeError on None."""
    import pytest as _pt

    from metadata_etl_framework_spark.quality.drift import (
        psi_vs_baseline,
        save_drift_baseline,
    )

    ref = spark.createDataFrame([(None,), (None,)], "x double")
    path = str(tmp_path / "empty_baseline")
    save_drift_baseline(ref, "x", path)
    cur = spark.createDataFrame([(1.0,)], "x double")
    with _pt.raises(ValueError, match="no numeric support"):
        psi_vs_baseline(cur, "x", path)


def test_connected_components_distributed_on_minhash_pairs(spark, gate_off):
    """Round-7 regression: the distributed hash-min path crashed with
    Spark's UnionBase.rewriteConstraints "key not found: node#N" when
    the pair frame came from minhash_near_duplicates (join-derived
    constraints over re-aliased attributes flowing into the old
    union+groupBy propagation). The join+least formulation must close
    the same clusters."""
    i = F.col("id")
    g = F.when((i % 100 >= 1) & (i % 100 <= 2), i - (i % 100) + 1).otherwise(i)
    x = g * 7
    text = F.concat_ws(
        " ", *[F.concat(F.lit("w"), (x + j).cast("string")) for j in range(6)]
    )
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )
    pairs = dedup_ops.minhash_near_duplicates(
        docs, threshold=0.8, num_hashes=16, num_bands=8,
        exact_max_rows=0, exact_max_fanout=0,
    ).persist()
    assert pairs.count() == 5  # one (100k+1, 100k+2)-style pair per 100
    out = dedup_ops.connected_components(pairs)
    rows = out.collect()
    assert len(rows) == 10
    assert sum(1 for r in rows if r.is_canonical) == 5
    # every cluster id is the min of its pair
    for r in rows:
        assert r.cluster_id == r.node - (r.node % 100) + 1
    pairs.unpersist()


# ------------------------------------------------- round-8 ADVICE fixes


def test_drift_monitor_survives_all_null_batch(spark, tmp_path):
    """Round-8 ADVICE medium: a micro-batch with rows but zero non-null
    values used to make psi_vs_baseline return a null psi_total, so
    float(None) raised TypeError and TERMINATED the streaming query.
    The monitor must skip such batches and keep consuming."""
    from metadata_etl_framework_spark.quality.drift import save_drift_baseline
    from metadata_etl_framework_spark.streaming.windows import (
        foreach_batch_drift_monitor,
        streaming_file_source,
    )

    ref = spark.createDataFrame(
        [(float(i % 20),) for i in range(200)], "value double"
    )
    base = str(tmp_path / "baseline")
    save_drift_baseline(ref, "value", base, n_bins=8)

    src = str(tmp_path / "stream")
    # batch 1: all-null values (rows > 0!); batch 2: healthy
    spark.createDataFrame(
        [(None,) for _ in range(50)], "value double"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(float(i % 20),) for i in range(50)], "value double"
    ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = streaming_file_source(spark, src, schema, max_files_per_trigger=1)
    metrics = str(tmp_path / "metrics")
    q = foreach_batch_drift_monitor(
        stream, "value", base, metrics, str(tmp_path / "ck")
    ).start()
    q.awaitTermination(120)
    assert q.exception() is None  # the all-null batch must not kill it
    rows = spark.read.parquet(metrics).collect()
    # exactly one metrics row: the healthy batch; the null batch skipped
    assert len(rows) == 1 and rows[0].n_rows == 50
    assert rows[0].psi_total is not None


def test_vs_baseline_comparators_reject_all_null_current(spark, tmp_path):
    """Round-8 ADVICE low: ks_vs_baseline / psi_vs_baseline on an
    all-null current batch must raise the documented ValueError instead
    of emitting NaN (or ANSI DIVIDE_BY_ZERO) from 0/0 totals."""
    import pytest as _pytest

    from metadata_etl_framework_spark.quality.drift import (
        ks_vs_baseline,
        psi_vs_baseline,
        save_drift_baseline,
    )

    ref = spark.createDataFrame(
        [(float(i % 10),) for i in range(100)], "value double"
    )
    base = str(tmp_path / "b")
    save_drift_baseline(ref, "value", base)
    all_null = spark.createDataFrame([(None,)] * 5, "value double")
    for fn in (psi_vs_baseline, ks_vs_baseline):
        with _pytest.raises(ValueError, match="no\\s+non-null"):
            fn(all_null, "value", base)


def test_drift_suite_releases_cached_frames(spark):
    """Round-8 ADVICE low: drift_suite (both the exact and the forced-
    binned arm) persisted ref/cur/counts/joint frames and never
    unpersisted them — repeated calls leaked cached partitions for the
    session's lifetime. After the call returns, no persistent RDDs may
    remain."""
    from metadata_etl_framework_spark.quality.drift import drift_suite

    ref = spark.createDataFrame(
        [(float(i % 50), "a" if i % 3 else "b") for i in range(300)],
        "x double, c string",
    )
    cur = spark.createDataFrame(
        [(float(i % 50) + 1.0, "a" if i % 4 else "b") for i in range(300)],
        "x double, c string",
    )
    before = dict(spark.sparkContext._jsc.getPersistentRDDs())
    for gate in (2_000_000, 0):  # exact arm, then forced-binned arm
        out = drift_suite(
            ref, cur, ["x"], ["c"], ks_exact_max_distinct=gate
        )
        assert out.count() >= 2
        leaked = {
            k: v
            for k, v in dict(
                spark.sparkContext._jsc.getPersistentRDDs()
            ).items()
            if k not in before
        }
        assert not leaked, f"gate={gate} leaked cached RDDs: {leaked}"


def test_robust_zscore_known_count_single_gate_scan(spark):
    """Round-8 ADVICE low: _exact_global_percentiles ran a full count()
    per call just to pick the regime — robust z triggered three extra
    whole-table scans. The detector now counts once and passes the known
    count through; both regimes must still agree exactly."""
    from metadata_etl_framework_spark.quality.anomaly import (
        detect_robust_zscore,
    )

    vals = [float(v) for v in range(100)] + [1e6, -1e6]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k int, v double"
    )
    fast = detect_robust_zscore(df, "v", "k")  # single-task regime
    dist = detect_robust_zscore(
        df, "v", "k", single_task_max_rows=0
    )  # prefix-scan regime, gate forced
    a = sorted((r.k, r.robust_z) for r in fast.collect())
    b = sorted((r.k, r.robust_z) for r in dist.collect())
    assert a == b and {k for k, _ in a} == {100, 101}


@pytest.mark.nightly
def test_plan_column_edges_deep_linear_plan_no_recursion_error(spark):
    """Round-8 ADVICE low: _attr_sources recursed once per plan node, so
    the hundreds-to-thousands of stacked Projects a chunked bpe_encode
    emits exceeded Python's recursion limit. The iterative walk must
    handle a plan far deeper than the default limit."""
    import sys

    from metadata_etl_framework_spark.utils.lineage import plan_column_edges

    # depth kept JVM-safe (Catalyst's own tree walks are recursive on
    # the JVM stack); the PYTHON limit is dropped instead so a
    # one-frame-per-node walk would still blow up while the iterative
    # walk's constant frame depth passes
    df = spark.range(3).select(F.col("id").alias("v"))
    for _ in range(500):
        df = df.select((F.col("v") + 1).alias("v"))
    plan = df._jdf.queryExecution().analyzed()  # analyze OUTSIDE the cap
    old = sys.getrecursionlimit()
    sys.setrecursionlimit(300)
    try:
        edges = plan_column_edges(df)
    finally:
        sys.setrecursionlimit(old)
    assert edges == {"v": [("range", "id")]}
    assert plan is not None
