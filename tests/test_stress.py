"""Opt-in 10× scale stress (set SPARK_GRAFT_STRESS=1): heavy operators
over a ~6M-row lineitem built by key-shifted unions of sf0.1. Verifies
the operators complete and scale linearly-ish; excluded from the default
suite to keep the gate fast.

Measured on local[32] (2026-08-13, round 5, full suite 135s / 7 tests):
prefix-sum over 6M rows 6.2s (post partition-offset-race fix —
persisted range partitioning); round-5 ops (tfidf, quality score,
length-bucketed batching, incremental dedup with one replica vs nine)
complete inside the suite envelope. The replicated corpus is
adversarial by construction (every doc a 10-way exact duplicate, every
band bucket collides); real corpora have far sparser structure.
"""

from __future__ import annotations

import os
from functools import reduce

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_STRESS"),
    reason="stress run is opt-in (SPARK_GRAFT_STRESS=1)",
)

SF = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def big(spark):
    from metadata_etl_framework_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 10_000_000))
        for i in range(10)
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def test_agg_and_dq_at_6m(big):
    from metadata_etl_framework_spark.quality.rules import compile_rule

    _force(
        big.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    rules = [
        {"type": "not_null", "column": "l_partkey"},
        {"type": "value_range", "column": "l_quantity", "min": 0.0, "max": 60.0},
        {"type": "required_fields", "columns": ["l_orderkey", "l_linenumber"]},
    ]
    aggs = [F.count(F.lit(1)).alias("total")] + [
        F.sum(compile_rule(r).cast("long")).alias(f"f{i}")
        for i, r in enumerate(rules)
    ]
    _force(big.agg(*aggs))


def test_windows_and_dedup_at_6m(big):
    from metadata_etl_framework_spark.functions import running_total
    from metadata_etl_framework_spark.incremental.merge import keep_latest

    w = running_total(
        big.withColumn("qd", F.col("l_quantity").cast("decimal(18,2)")),
        "l_quantity", ["l_orderkey"], ("l_linenumber", "qd"), output_col="rt",
    )
    _force(w)
    _force(keep_latest(big, ["l_orderkey"], ("l_linenumber", "l_quantity")))


def test_llm_ops_at_10x_docs(spark):
    from functools import reduce as _reduce

    from metadata_etl_framework_spark.ops import dedup as dd, text as tx
    from metadata_etl_framework_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    big = _reduce(
        lambda a, b: a.unionByName(b),
        [docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
         for i in range(10)],
    )
    _force(tx.fingerprint(tx.quality_features(tx.token_count(big))))
    _force(dd.exact_duplicates(big))
    _force(dd.simhash(big))
    _force(tx.chunk_documents(big, 64, 16))
    # exact_max_rows=0 forces the LSH regime — the path a 100 TB corpus
    # takes (the exact inverted index is below-gate-only by design, and
    # this 10x-replicated corpus is its adversarial worst case: every
    # shingle's df is inflated 10x, so candidate pairs grow ~100x)
    _force(dd.minhash_near_duplicates(big, threshold=0.2, num_hashes=32,
                                      num_bands=8, exact_max_rows=0))


def test_range_count_at_6m_points(big, spark):
    """CDF-difference band counting: 6M points against 20k bands; the
    match set (~1.1B pairs at this selectivity) never materializes."""
    from metadata_etl_framework_spark.functions import range_count
    from metadata_etl_framework_spark.sources.tables import load_table

    pts = big.filter(F.col("l_quantity") > 0).select(
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    )
    bands = load_table(spark, SF, "part").select(
        "p_partkey",
        (F.col("p_retailprice") * 0.98).alias("lo"),
        (F.col("p_retailprice") * 1.02).alias("hi"),
    )
    _force(range_count(pts, bands, "unit_price", "lo", "hi"))


def test_cluster_and_decontaminate_at_10x_docs(spark):
    from functools import reduce as _reduce

    from metadata_etl_framework_spark.ops import dedup as dd, text as tx
    from metadata_etl_framework_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    big = _reduce(
        lambda a, b: a.unionByName(b),
        [docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
         for i in range(10)],
    )
    pairs = dd.minhash_near_duplicates(big, threshold=0.2, num_hashes=32,
                                       num_bands=8, exact_max_rows=0)
    _force(dd.connected_components(pairs))
    bench = big.filter(F.col("doc_id") % 37 == 0)
    train = big.filter(F.col("doc_id") % 37 != 0)
    _force(tx.decontaminate(train, bench, n=5))
    _force(tx.repetition_metrics(big))


def test_prefix_sum_and_packing_at_6m(big, spark):
    """Two-phase prefix sum over ~6M rows with a synthetic unique order
    key — the single-task global-window formulation would bottleneck
    here; the two-phase one is a partition-local window plus a
    numPartitions-row driver exchange."""
    import time

    from metadata_etl_framework_spark.ops.packing import global_prefix_sum

    rows = big.select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("rid"),
        F.col("l_quantity").cast("int").alias("v"),
    ).dropDuplicates(["rid"])
    t = time.time()
    out = global_prefix_sum(rows, "rid", "v", out="ps", num_partitions=64)
    total = out.agg(F.max("ps").alias("m"), F.sum("v").alias("s")).collect()[0]
    dt = time.time() - t
    assert total.m == total.s  # max prefix == grand total
    print(f"prefix-sum 6M rows: {dt:.1f}s")


def test_round5_ops_at_10x_docs(spark):
    """tfidf / quality score / incremental dedup / batching at 10×
    (50k docs): completes and stays shuffle-bounded."""
    from functools import reduce as _reduce

    from metadata_etl_framework_spark.ops import text as tx
    from metadata_etl_framework_spark.ops.dedup import incremental_dedup
    from metadata_etl_framework_spark.ops.packing import (
        length_bucketed_batches,
    )
    from metadata_etl_framework_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    big = _reduce(
        lambda a, b: a.unionByName(b),
        [docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
         for i in range(10)],
    )
    _force(tx.tfidf_top_terms(big, top_n=3))
    _force(tx.quality_score(big))
    _force(
        length_bucketed_batches(
            big.select(
                "doc_id",
                F.coalesce(F.size(tx.tokens("text")), F.lit(0))
                .cast("long")
                .alias("n_tokens"),
            )
        )
    )
    # new batch = one replica, seen corpus = the other nine (worst case:
    # every new doc IS an exact dup of nine seen docs)
    new_b = big.filter(F.col("doc_id") < 10_000_000)
    seen = big.filter(F.col("doc_id") >= 10_000_000)
    _force(incremental_dedup(new_b, seen, threshold=0.5))


def test_global_row_number_6m(spark, big):
    """Exact dense global numbering over ~6M rows through the two-phase
    range scan — max(rank) must equal the row count (no offset drift
    across the sampled range partitioning)."""
    from metadata_etl_framework_spark.ops.packing import global_row_number

    keyed = big.select(
        F.monotonically_increasing_id().alias("uid"), "l_extendedprice"
    )
    ranked = global_row_number(
        keyed, [("l_extendedprice", "desc"), ("uid", "asc")], out="rn"
    )
    n = keyed.count()
    agg = ranked.agg(
        F.max("rn").alias("mx"),
        F.countDistinct("rn").alias("dn"),
        F.count(F.lit(1)).alias("cnt"),
    ).collect()[0]
    assert agg.mx == n and agg.dn == n and agg.cnt == n


def test_ks_statistic_6m(spark, big):
    """KS over a ~6M-row split: identical halves must give D=0 — the
    dual prefix scan's offsets stay consistent at scale."""
    from metadata_etl_framework_spark.quality.drift import ks_statistic

    row = ks_statistic(big, big, "l_extendedprice").collect()[0]
    assert row.ks_stat == 0.0
    assert row.n_ref == row.n_cur > 5_000_000


def test_emd_6m_self_zero(spark, big):
    """EMD over a ~6M-row self-comparison must be exactly 0 — the
    distributed LEAD's partition-boundary fill stays consistent at
    scale (a wrong boundary gap would produce a nonzero integral)."""
    from metadata_etl_framework_spark.quality.drift import emd_1d

    row = emd_1d(big, big, "l_extendedprice").collect()[0]
    assert row.emd == 0.0 and row.n_ref == row.n_cur > 5_000_000


def test_bpe_train_sf01_documents(spark, gate_off):
    """BPE training over the full sf0.1 documents corpus (50k docs):
    the word-table collapse keeps per-merge work tiny regardless of
    corpus size; five merges must come back deterministic and ordered
    by weighted pair count."""
    from metadata_etl_framework_spark.ops.text import bpe_train
    from metadata_etl_framework_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    # gate off: this stress pin exists to exercise the fully
    # DISTRIBUTED per-iteration loop (the driver-local path would
    # otherwise absorb a vocab this small)
    merges = bpe_train(docs, n_merges=5).orderBy("merge_idx").collect()
    assert len(merges) == 5
    counts = [r.pair_count for r in merges]
    assert all(c >= 2 for c in counts)
    # the driver-local gate path must reproduce the distributed merges
    again = bpe_train(docs, n_merges=5).orderBy("merge_idx").collect()
    assert [tuple(r) for r in merges] == [tuple(r) for r in again]


def test_ks_binned_vs_exact_6m(spark, big):
    """Round-7: the binned KS (100-TB arm) must bracket the exact
    statistic on a ~6M-row genuinely-shifted split — D_binned <= D_exact
    <= D_binned + err_bound — and the err_bound must be small enough to
    be useful (< 0.05 at 1000 bins on lineitem prices)."""
    from metadata_etl_framework_spark.quality.drift import ks_statistic

    ref = big.filter(F.col("l_shipdate") < "1997-01-01")
    cur = big.filter(F.col("l_shipdate") >= "1997-01-01").withColumn(
        "l_extendedprice", F.col("l_extendedprice") * 1.07
    )
    exact = ks_statistic(ref, cur, "l_extendedprice").collect()[0]
    binned = ks_statistic(ref, cur, "l_extendedprice", n_bins=1000).collect()[0]
    assert (binned.n_ref, binned.n_cur) == (exact.n_ref, exact.n_cur)
    assert binned.ks_stat <= exact.ks_stat + 1e-9
    assert exact.ks_stat <= binned.ks_stat + binned.err_bound + 1e-9
    assert binned.err_bound < 0.05


def test_dedup_chain_10m_end_to_end(spark, gate_off):
    """Round-7 verdict item 6: the flagship dedup chain at 100x shape —
    bloom_incremental_dedup -> minhash_near_dups -> connected_components
    -> leakage_safe_split over a 10M-doc synthetic corpus with every
    driver gate forced to 0 (pure distributed paths), plan-shape
    asserted scale-safe at each stage, wall-time bounded."""
    import time

    from metadata_etl_framework_spark.ops.corpus import leakage_safe_split
    from metadata_etl_framework_spark.ops.dedup import (
        bloom_incremental_dedup,
        connected_components,
        minhash_near_duplicates,
    )
    from metadata_etl_framework_spark.utils.plan_audit import (
        assert_scale_safe,
    )

    N = 10_000_000
    i = F.col("id")
    # 2 docs per 1000 share a leader text (near-dup pairs the bloom
    # stage must NOT eat); every 10th doc exactly matches a seen doc
    g = F.when((i % 1000 >= 1) & (i % 1000 <= 2), i - (i % 1000) + 1).otherwise(i)
    x = g * 7
    text = F.concat_ws(
        " ", *[F.concat(F.lit("w"), (x + j).cast("string")) for j in range(6)]
    )
    docs = spark.range(N).select(F.col("id").alias("doc_id"), text.alias("text"))
    seen = spark.range(N // 10).select(
        (F.col("id") * 10).alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit("w"), (F.col("id") * 10 * 7 + j).cast("string"))
                for j in range(6)
            ],
        ).alias("text"),
    )
    t0 = time.time()

    bl = bloom_incremental_dedup(docs, seen)
    assert_scale_safe(bl, allow_cartesian=True)  # broadcast bloom bitmap
    kept = docs.join(
        bl.filter("keep").select("doc_id"), "doc_id", "left_semi"
    ).persist()
    assert kept.count() == 9_000_000  # exactly the 1M seen dups removed

    pairs = minhash_near_duplicates(
        kept, threshold=0.8, num_hashes=16, num_bands=8,
        exact_max_rows=0, exact_max_fanout=0,
    ).persist()
    assert_scale_safe(pairs)
    assert pairs.count() == 10_000  # one leader pair per 1000 docs

    clusters = connected_components(pairs).persist()
    assert clusters.count() == 20_000
    assert clusters.filter("is_canonical").count() == 10_000

    split = leakage_safe_split(
        kept, {"train": 0.9, "val": 0.05, "test": 0.05}, clusters=clusters
    )
    assert_scale_safe(split)
    by_split = {r["split"]: r["count"] for r in split.groupBy("split").count().collect()}
    assert sum(by_split.values()) == 9_000_000
    assert 0.88 < by_split["train"] / 9_000_000 < 0.92
    # no cluster straddles splits (the leakage guarantee, checked exactly)
    straddle = (
        split.join(clusters, split.doc_id == clusters.node)
        .groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("ns"))
        .filter("ns > 1")
        .count()
    )
    assert straddle == 0
    elapsed = time.time() - t0
    assert elapsed < 900, f"chain took {elapsed:.0f}s (budget 900s)"
    for d in (kept, pairs, clusters):
        d.unpersist()


def test_emd_binned_vs_exact_6m(spark, big):
    """Binned W1 must land within err_bound = 2*bin_width of the exact
    statistic on a ~6M-row genuinely-shifted split."""
    from metadata_etl_framework_spark.quality.drift import emd_1d

    ref = big.filter(F.col("l_shipdate") < "1997-01-01")
    cur = big.filter(F.col("l_shipdate") >= "1997-01-01").withColumn(
        "l_extendedprice", F.col("l_extendedprice") * 1.07
    )
    exact = emd_1d(ref, cur, "l_extendedprice").collect()[0]
    binned = emd_1d(ref, cur, "l_extendedprice", n_bins=1000).collect()[0]
    assert (binned.n_ref, binned.n_cur) == (exact.n_ref, exact.n_cur)
    assert abs(binned.emd - exact.emd) <= binned.err_bound + 1e-6


def test_pagerank_1m_edges(spark):
    """Round-8: PageRank over ~1M synthetic edges (100k nodes, ring +
    hub structure) — 3 iterations of the join formulation with
    per-iteration persist/release. Invariants: every node ranked, all
    ranks >= teleport floor, the global hub node ranks first."""
    from metadata_etl_framework_spark.ops.graph import pagerank

    n_nodes = 100_000
    ids = spark.range(n_nodes)
    ring = ids.select(
        F.col("id").cast("string").alias("src"),
        ((F.col("id") + 1) % n_nodes).cast("string").alias("dst"),
        F.lit(1.0).alias("w"),
    )
    ring2 = ids.select(
        F.col("id").cast("string").alias("src"),
        ((F.col("id") + 7) % n_nodes).cast("string").alias("dst"),
        F.lit(1.0).alias("w"),
    )
    # every 11th node also links to node 0 (the hub)
    hub = ids.where(F.col("id") % 11 == 1).select(
        F.col("id").cast("string").alias("src"),
        F.lit("0").alias("dst"),
        F.lit(5.0).alias("w"),
    )
    edges = ring.unionByName(ring2).unionByName(hub)
    out = pagerank(edges, iterations=3, weight_col="w")
    n = 100_000
    floor = (1.0 - 0.85) / n
    stats = out.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("rank").alias("mn"),
        F.max("rank").alias("mx"),
    ).collect()[0]
    assert stats.cnt == n and stats.mn >= round(floor, 6)
    top = out.orderBy(F.desc("rank"), "node").first()
    assert top.node == "0" and top.rank == stats.mx
    out.unpersist()


def test_ntile_assign_6m(spark, big):
    """Round-8: exact-NTILE bucketing over ~6M rows via the two-phase
    global row number — bucket sizes must match NTILE's closed form
    exactly (first n%k buckets one row larger)."""
    from metadata_etl_framework_spark.functions.aggregations import (
        ntile_assign,
    )

    keyed = big.select(
        F.monotonically_increasing_id().alias("uid"), "l_extendedprice"
    )
    k = 64
    n = keyed.count()
    out = ntile_assign(keyed, [("l_extendedprice", "desc"), ("uid", "asc")], k)
    sizes = {
        r.bucket: r.c
        for r in out.groupBy("bucket").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    q, m = divmod(n, k)
    assert len(sizes) == k
    for b in range(1, k + 1):
        assert sizes[b] == (q + 1 if b <= m else q), (b, sizes[b])


def test_corr_matrix_6m(spark, big):
    """Round-8: one-pass all-pairs correlation at ~6M rows agrees with
    Spark's own F.corr to output precision."""
    from metadata_etl_framework_spark.functions.aggregations import corr_matrix

    df = big.select("l_quantity", "l_extendedprice", "l_discount")
    got = {(r.col_x, r.col_y): r.corr for r in corr_matrix(
        df, ["l_quantity", "l_extendedprice", "l_discount"],
        method="exact",
    ).collect()}
    for a, b in [("l_quantity", "l_extendedprice"),
                 ("l_quantity", "l_discount"),
                 ("l_extendedprice", "l_discount")]:
        want = df.agg(F.round(F.corr(a, b), 6)).first()[0]
        assert abs(got[(a, b)] - want) <= 2e-6, (a, b, got[(a, b)], want)


def test_changepoint_6m(spark, big):
    """Round-8: the CUSUM change-point scan at ~6M rows through the
    decimal prefix sum — an injected level shift at a known global
    position is recovered exactly."""
    from metadata_etl_framework_spark.quality.anomaly import (
        changepoint_mean_shift,
    )

    keyed = big.select(
        F.monotonically_increasing_id().alias("uid")
    ).withColumn("rnd", F.col("uid"))
    n = keyed.count()
    cut = n // 3
    from metadata_etl_framework_spark.ops.packing import global_row_number

    ranked = global_row_number(keyed, ["uid"], out="pos")
    series = ranked.withColumn(
        "v", F.when(F.col("pos") <= cut, F.lit(1.0)).otherwise(F.lit(4.0))
    )
    r = changepoint_mean_shift(series, ["pos"], "v").first()
    assert r.n == n and r.split_after == cut
    assert (r.mean_before, r.mean_after) == (1.0, 4.0)


def test_point_in_time_join_6m(spark, big):
    """Round-8: PIT join at ~6M facts against a 150k-version dimension —
    the as-of composition must stay one shuffle and return exactly one
    row per fact, with no version from the future."""
    from metadata_etl_framework_spark.functions.joins import (
        point_in_time_join,
    )

    facts = big.select(
        F.monotonically_increasing_id().alias("fid"),
        (F.col("l_suppkey") % 50_000).alias("k"),
        F.col("l_shipdate").cast("timestamp").alias("ts"),
    )
    n = facts.count()
    dim = (
        spark.range(150_000)
        .select(
            (F.col("id") % 50_000).alias("k"),
            F.timestamp_add(
                "DAY",
                ((F.col("id") / 50_000).cast("int") * 700).cast("int"),
                F.lit("1992-01-01").cast("timestamp"),
            ).alias("vstart"),
            F.col("id").cast("double").alias("attr"),
        )
    )
    from pyspark.sql import Window

    dim = dim.withColumn(
        "vend", F.lead("vstart").over(Window.partitionBy("k").orderBy("vstart"))
    )
    out = point_in_time_join(facts, dim, ["k"], "ts", "vstart", "vend")
    agg = out.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count("vstart_dim").alias("matched"),
        F.max(
            F.when(F.col("vstart_dim") > F.col("ts"), 1).otherwise(0)
        ).alias("future_leak"),
    ).first()
    assert agg.cnt == n            # exactly one row per fact
    assert agg.matched > 0.9 * n   # shipdates 1992+ all have a version
    assert agg.future_leak == 0    # never a version from the future


def test_bm25_join_10x_docs(spark):
    """Round-8: BM25 query-table join over ~50k documents × 5 queries —
    postings stay filtered to the query vocabulary, per-query top-k is
    exact-k and deterministic across two runs."""
    from metadata_etl_framework_spark.ops.text import bm25_join
    from metadata_etl_framework_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    big_docs = docs
    for i in range(1, 10):
        big_docs = big_docs.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + i * 1_000_000)
        )
    queries = spark.createDataFrame(
        [(f"q{i}", [t]) for i, t in enumerate(
            ["stream", "merge", "window", "join", "scan"]
        )],
        "query_id string, terms array<string>",
    )
    r1 = bm25_join(big_docs, queries, k=10).collect()
    r2 = bm25_join(big_docs, queries, k=10).collect()
    key = lambda rows: sorted((r.query_id, r.rk, r.doc_id, r.score) for r in rows)
    assert key(r1) == key(r2)
    per_q = {}
    for r in r1:
        per_q.setdefault(r.query_id, 0)
        per_q[r.query_id] += 1
    assert all(v == 10 for v in per_q.values()) and len(per_q) == 5


def test_label_propagation_and_kcore_1m_edges(spark):
    """Round-10 graph loops at ~0.5M edges / 20k nodes: LPA (3 rounds)
    on a 400-clique graph recovers every community; k-core peeling with the
    per-round localCheckpoint discipline survives a deep run (plain
    persist grew the 4-reference plan 4^n and OOM'd at ~5 rounds even
    on TINY graphs)."""
    from metadata_etl_framework_spark.ops.graph import (
        k_core,
        label_propagation,
    )

    G, S = 400, 50  # 400 cliques of 50: 400*1225 + 400 bridges ≈ 490k
    ids = spark.range(G * S).select(
        F.col("id"), F.expr(f"id DIV {S}").alias("g")
    )
    x, y = ids.alias("x"), ids.alias("y")
    cliques = x.join(
        y, (F.col("x.g") == F.col("y.g")) & (F.col("x.id") < F.col("y.id"))
    ).select(F.col("x.id").alias("src"), F.col("y.id").alias("dst"))
    bridges = spark.range(G).select(
        (F.col("id") * S + (S - 1)).alias("src"),
        (((F.col("id") + 1) % G) * S).alias("dst"),
    )
    edges = cliques.unionByName(bridges)

    lp = label_propagation(edges, iterations=3)
    # every node's label must be its clique minimum
    wrong = lp.where(
        F.col("label") != F.expr("node DIV 50") * S
    ).count()
    assert wrong == 0

    # k=S-1 core: every clique survives (inside degree S-1 >= k);
    # then k=S+10 strips everything in a couple of peels
    core = k_core(edges, k=S - 1, max_iter=8)
    assert core.count() == G * S
    assert k_core(edges, k=S + 10, max_iter=8).count() == 0

def test_salted_join_beats_plain_smj_on_zipf_keys(spark):
    """Round-10 verdict task 5: skew evidence at stress scale. A
    16M-row Zipf-keyed fact (hot key = 90% of all rows, tail uniform
    over 10k keys) joined to a 10k-key dim under STATIC planning (AQE
    off, broadcast off — salted_join's documented domain) must complete
    measurably faster salted than plain: plain sort-merge lands ~14.4M
    rows in ONE shuffle partition while salting spreads the hot key
    across buckets (measured min-of-3 on this box: plain 5.7s vs salted
    4.3s — and the gap is structural, max reduce task 9x the average;
    on a real cluster the skewed task also spills, widening it).
    Also asserts row-identity of the two paths and, separately, that
    AQE's skew-join splitting (the session default this module defers
    to) actually engages on this shape."""
    import time

    from metadata_etl_framework_spark.functions.skew import salted_join

    fact = spark.range(16_000_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("k0"))
        .otherwise(
            F.concat(F.lit("k"), (F.col("id") % 10_000) + 1)
        )
        .alias("key"),
        (F.col("id") % 97).alias("v"),
    ).persist()
    fact.count()
    dim = spark.range(10_001).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        (F.col("id") % 7).alias("w"),
    ).persist()
    dim.count()

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    def agg(j):
        return j.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v") * F.col("w")).alias("s"),
        )

    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plain_t = salted_t = float("inf")
        for _ in range(3):
            t0 = time.monotonic()
            run(agg(fact.join(dim, ["key"], "inner")))
            plain_t = min(plain_t, time.monotonic() - t0)
            t0 = time.monotonic()
            run(agg(salted_join(fact, dim, ["key"], buckets=8)))
            salted_t = min(salted_t, time.monotonic() - t0)
        # row-identity of the two paths
        p = agg(fact.join(dim, ["key"], "inner")).collect()[0]
        s = agg(salted_join(fact, dim, ["key"], buckets=8)).collect()[0]
        assert (p.n, p.s) == (s.n, s.s) and p.n == 16_000_000
    finally:
        for k, v in saved.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))
    print(f"plain SMJ {plain_t:.2f}s vs salted {salted_t:.2f}s")
    assert salted_t < plain_t, (
        f"salted join ({salted_t:.2f}s) not faster than plain "
        f"({plain_t:.2f}s) on 90%-hot-key data under static planning"
    )

    # AQE arm: with the session defaults restored (adaptive + skewJoin
    # on), tune the skew thresholds down to this data's scale and assert
    # the executed plan shows the skew-split marker on the SMJ.
    aqe_confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256k",
    }
    saved = {k: spark.conf.get(k, None) for k in aqe_confs}
    try:
        for k, v in aqe_confs.items():
            spark.conf.set(k, v)
        # global agg downstream, NOT groupBy("key"): a hash agg on the
        # join key would reuse the join's co-partitioning, and AQE
        # refuses to split the skewed partition when that breaks a
        # downstream requirement (unless forceOptimizeSkewedJoin) —
        # verified on this box: groupBy("key") keeps skew=false
        j = agg(fact.join(dim, ["key"], "inner"))
        # drive through the DF's OWN QueryExecution (collect, not a
        # separate write job) so the adaptive plan finalizes on it
        assert j.collect()[0].n == 16_000_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "AQE skew-join split did not engage; plan:\n" + plan[:2000]
        )
    finally:
        for k, v in saved.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))
        fact.unpersist()
        dim.unpersist()


def test_poisson_bootstrap_6m_rows(spark, big):
    """Round-11: the Poisson bootstrap at 6M rows × 25 replicates =
    150M weighted samples — the replicate fan-out must stay map-side
    collapsed (shuffle = n_boot rows per task) and the LONG fast path
    must hold its exactness contract (cents grid)."""
    from metadata_etl_framework_spark.ops.stats import poisson_bootstrap_ci

    r = poisson_bootstrap_ci(
        big, "l_extendedprice", "l_orderkey",
        n_boot=25, value_scale=100,
    ).collect()[0]
    assert r["n_rows"] == big.count()
    assert r["ci_lo"] <= r["point_est"] <= r["ci_hi"]
    # a mean over 6M rows is pinned tight: the CI must be narrow
    # relative to the point estimate (sub-1% band)
    assert (r["ci_hi"] - r["ci_lo"]) < 0.01 * r["point_est"]


def test_kmeans_and_silhouette_100k_vectors(spark):
    """Round-11: two Lloyd rounds + silhouette on a 100k×16 synthetic
    corpus with 8 planted orthogonal-ish blobs — the broadcast
    projection and (cluster, dim)-cell aggregates must hold at 50×
    the sf0.1 embedding count, and the planted structure must be
    recovered exactly (every point lands with its blob's seed)."""
    from metadata_etl_framework_spark.ops.clustering import kmeans_summary

    n, dim, k = 100_000, 16, 8
    base = spark.range(n).select(
        F.col("id").alias("vec_id"), (F.col("id") % k).alias("_blob")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.when(
            d == (F.col("_blob") % dim), F.lit(10.0)
        ).otherwise(
            ((F.col("vec_id") * 37 + d * 11) % 7).cast("double") / 100.0
        ),
    )
    df = base.select(
        "vec_id", vec.cast("array<float>").alias("embedding")
    )
    out = kmeans_summary(df, k=k, iterations=2).collect()
    assert len(out) == k
    assert sum(r["n_points"] for r in out) == n
    # blob of vec_id v is v % k, and seed s (vec_id s) belongs to blob
    # s % k = s: every cluster recovers exactly n/k members
    assert all(r["n_points"] == n // k for r in out), out
    assert all(r["avg_cosine"] > 0.99 for r in out)


def test_recsys_mega_user_gate_1m_interactions(spark):
    """Round-11: item-item CF at 1M interactions with one degenerate
    crawler account holding every item — the max_user_items gate must
    drop it (Σ m² would otherwise add 10⁶ pairs from one user) and
    the model must still build from the organic users."""
    from metadata_etl_framework_spark.ops.recsys import item_item_cosine

    # item modulus 199 is coprime with the 50k user stride, so every
    # user sees 20 DISTINCT items (a multiple of 200 would collapse
    # each user to one item and produce no pairs at all)
    organic = spark.range(1_000_000).select(
        (F.col("id") % 50_000).alias("u"),
        F.concat(F.lit("item_"), (F.col("id") % 199).cast("string")).alias(
            "i"
        ),
    )
    crawler = spark.range(1000).select(
        F.lit(99_999_999).alias("u"),
        F.concat(F.lit("item_"), F.col("id").cast("string")).alias("i"),
    )
    df = organic.unionByName(crawler)
    sims = item_item_cosine(
        df, "u", "i", min_cooc=100, max_user_items=100
    )
    rows = sims.collect()
    assert len(rows) > 0
    # the crawler's exclusive items (ids >= 199) never reach the model
    assert all(
        int(r["item_a"].split("_")[1]) < 199
        and int(r["item_b"].split("_")[1]) < 199
        for r in rows
    )


def test_recsys_broadcast_gate_fallback_row_identical(spark):
    """Round-12 verdict task 1: at 1M interactions build an UNBOUNDED
    model (no top_k_per_item, min_cooc=1 — the exact shape the r11
    verdict flagged as a driver OOM at scale), trip the broadcast gate,
    and pin that the shuffle fallback returns row-identical recs to the
    forced-broadcast path."""
    from metadata_etl_framework_spark.ops.recsys import (
        item_item_cosine,
        recommend_items,
    )

    df = spark.range(1_000_000).select(
        (F.col("id") % 50_000).alias("u"),
        F.concat(F.lit("item_"), (F.col("id") % 199).cast("string")).alias(
            "i"
        ),
    )
    sims = item_item_cosine(df, "u", "i", min_cooc=1).localCheckpoint()
    n_model = sims.count()
    assert n_model > 0
    # gate trips: threshold below the symmetrized model size
    gated = recommend_items(
        df, sims, "u", "i", top_n=3, broadcast_max_rows=n_model
    )
    forced_bc = recommend_items(
        df, sims, "u", "i", top_n=3,
        broadcast_max_rows=10 * n_model,
    )
    g = sorted(map(tuple, gated.collect()))
    b = sorted(map(tuple, forced_bc.collect()))
    assert g == b and len(g) > 0
    # the gated plan must NOT broadcast the symmetrized model: its only
    # allowed broadcasts are the anti-join/seen side if AQE picks them
    plan = gated._jdf.queryExecution().executedPlan().toString()
    forced_plan = forced_bc._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") < forced_plan.count(
        "BroadcastExchange"
    )


def test_lof_bucketed_200k_vectors_where_exact_refuses(spark):
    """Round-12 verdict task 5: at 200k vectors the exact LOF gate
    refuses (O(n^2) scoring); the LSH-bucketed path completes, emits
    one row per input vector (singleton buckets as null rows), and
    produces real scores."""
    from metadata_etl_framework_spark.ops.similarity import (
        lof_scores,
        lof_scores_bucketed,
    )

    import random

    n, dim = 200_000, 16
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), j -> CAST("
            "pmod(hash(id, j), 10000) / 5000.0 - 1 AS FLOAT))"
        ).alias("embedding"),
    )
    with pytest.raises(ValueError, match="exact_max_rows"):
        lof_scores(df, k=5)
    # seeded-gaussian planes (the docstring's production guidance):
    # 20 planes over this corpus measured max-bucket ~120, sum(|b|^2)
    # ~1.6M candidate pairs — O(n) work; the default sawtooth planes
    # leave 18k-row cells here (1.7e9 pairs, the quadratic regime)
    rng = random.Random(7)
    planes = [
        [rng.gauss(0, 1) for _ in range(dim)] for _ in range(20)
    ]
    out = lof_scores_bucketed(df, k=5, hyperplanes=planes)
    rows = out.count()
    assert rows == n
    scored = out.where(F.col("lof").isNotNull()).count()
    assert scored > 0


def test_random_walks_1m_edges(spark):
    """Round-12: walks over a 1M-edge graph (200k nodes, ~5 out-edges
    each via hash-mixed targets): 4 steps complete, every step is one
    equi-join, and the walk count only shrinks (dangling stops)."""
    from metadata_etl_framework_spark.ops.graph import random_walks

    edges = spark.range(1_000_000).select(
        (F.col("id") % 200_000).alias("src"),
        F.expr("pmod(hash(id, 7), 200000)").cast("long").alias("dst"),
    )
    out = random_walks(edges, walk_length=4)
    per_step = {
        r["step"]: r["n"]
        for r in out.groupBy("step")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(per_step) == {0, 1, 2, 3, 4}
    assert per_step[0] > 150_000  # most nodes have out-edges
    for t in range(1, 5):
        assert per_step[t] <= per_step[t - 1]
    assert per_step[4] > 100_000  # the graph is dense enough to walk


def test_nb_train_score_at_10x_docs(spark):
    """Round-12: NB train+score over the 10x-replicated corpus (~5k
    docs, full token explode twice): the model stays vocab-bounded and
    resubstitution scoring emits one prediction per doc."""
    from functools import reduce as _reduce

    from metadata_etl_framework_spark.ops.classify import (
        nb_score,
        nb_train,
    )
    from metadata_etl_framework_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    big = _reduce(
        lambda a, b: a.unionByName(b),
        [docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
         for i in range(10)],
    )
    model = nb_train(big, "text", "lang", min_count=2)
    n_docs = big.where(F.col("doc_id").isNotNull()).count()
    preds = nb_score(big, model, "text", "doc_id")
    assert preds.count() == n_docs
    # the synthetic corpus shares ONE vocabulary across langs (no
    # separability by construction), so the pins here are structural:
    # the model is vocab-bounded, every prediction is a training
    # label, and every scored doc carries vocab tokens
    labels = {r["lang"] for r in big.select("lang").distinct().collect()
              if r["lang"] is not None}
    kinds = model.groupBy("kind").count().collect()
    counts = {r["kind"]: r["count"] for r in kinds}
    n_vocab = (
        model.where(F.col("kind") == "token")
        .select("token").distinct().count()
    )
    assert counts["prior"] == counts["default"] == len(labels)
    assert counts["token"] <= len(labels) * n_vocab
    got_labels = {
        r["predicted_label"]
        for r in preds.select("predicted_label").distinct().collect()
    }
    assert got_labels <= labels
    assert preds.where(F.col("n_tokens") > 0).count() == n_docs


def test_als_factorize_at_1m_interactions(spark):
    """Round-13: rank-2 ALS over ~1M (user, item) interactions — the
    grouped normal-equation passes and distributed 2×2 solves must
    hold at interaction scale (factors stay finite, Σ counts exact)."""
    from metadata_etl_framework_spark.ops.recsys import (
        als_evaluate,
        als_factorize,
    )

    n = 1_000_000
    df = spark.range(n).select(
        (F.col("id") % 50_000).alias("u"),
        ((F.col("id") * 7) % 2_000).alias("i"),
        (1.0 + (F.col("id") % 5).cast("double")).alias("r"),
    )
    uf, itf = als_factorize(df, "u", "i", "r", rounds=2, reg=0.1)
    ev = als_evaluate(df, uf, itf, "u", "i", "r").collect()[0]
    assert ev["n_ratings"] == n
    assert ev["n_users"] == 50_000 and ev["n_items"] == 2_000
    assert ev["rmse"] is not None and ev["rmse"] < 10.0
    bad = itf.where(
        F.isnan("f1") | F.isnan("f2") | F.col("f1").isNull()
    ).count()
    assert bad == 0


def test_kll_sketch_at_6m(big, spark):
    """Round-13: KLL build over 6M rows grouped by return flag — ≤ k
    items per group, exact weight conservation, merged p50 within the
    documented rank-error bound of the exact median."""
    from metadata_etl_framework_spark.ops.sketch import (
        kll_merge,
        kll_quantiles,
        kll_sketch,
    )

    k = 128
    sk = kll_sketch(big, "l_extendedprice", k=k,
                    group_cols=["l_returnflag"])
    per = sk.groupBy("l_returnflag").agg(
        F.sum("weight").alias("w"), F.count(F.lit(1)).alias("c")
    )
    exact = big.where(F.col("l_extendedprice").isNotNull()).groupBy(
        "l_returnflag"
    ).count()
    j = per.join(exact, "l_returnflag").collect()
    assert j and all(r["w"] == r["count"] and r["c"] <= k for r in j)
    merged = kll_merge([], sk.select("value", "weight"))
    est = kll_quantiles(merged, (0.5,)).collect()[0]
    n = sum(r["count"] for r in exact.collect())
    # true rank of the estimate within n/2 ± (groups+1)·ceil(n_g/k)
    below = big.where(
        F.col("l_extendedprice") <= est["estimate"]
    ).count()
    above_eq = big.where(
        F.col("l_extendedprice") >= est["estimate"]
    ).count()
    slack = 4 * (n // k)
    assert below >= n // 2 - slack and above_eq >= n // 2 - slack


def test_gmm2_at_6m_rows(big, spark):
    """Round-13 continuation: 2-component EM over 6M prices — each
    round is ONE aggregation pass, so scale costs scans not memory;
    output invariants hold (weights sum to 1, sigmas floored > 0)."""
    from metadata_etl_framework_spark.ops.clustering import gmm2_train

    out = {r["component"]: r for r in gmm2_train(
        big.select((F.col("l_extendedprice") / 100000.0).alias("x")),
        "x", iterations=3,
    ).collect()}
    assert round(out[1]["weight"] + out[2]["weight"], 6) == 1.0
    assert out[1]["sigma"] > 0 and out[2]["sigma"] > 0
    assert out[1]["n_rows"] == out[2]["n_rows"] > 5_000_000


def test_link_prediction_full_copurchase_with_degree_cap(spark):
    """Round-13 continuation: link prediction over the FULL sf0.1 part
    co-purchase graph (~20k nodes) with a via-degree cap — the hub
    guard bounds the Σd² candidate join; the top-k cut is a total
    order (two runs identical)."""
    from metadata_etl_framework_spark.ops.graph import link_prediction
    from metadata_etl_framework_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("pa"), li.alias("pb")
    edges = a.join(
        b,
        (F.col("pa.l_orderkey") == F.col("pb.l_orderkey"))
        & (F.col("pa.l_partkey") < F.col("pb.l_partkey")),
    ).select(
        F.col("pa.l_partkey").alias("src"),
        F.col("pb.l_partkey").alias("dst"),
    )
    r1 = link_prediction(
        edges, min_common=2, max_degree=200, top_k=50
    ).collect()
    r2 = link_prediction(
        edges, min_common=2, max_degree=200, top_k=50
    ).collect()
    assert len(r1) == 50 and r1 == r2
    assert all(row["adamic_adar"] > 0 for row in r1)


def test_eigenvector_8_iterations_truncation_path(spark):
    """Round-13 continuation: 8 shifted power iterations on the sf0.1
    trade graph exercises the localCheckpoint truncation arm (plain
    persist doubled the plan per round and OOM'd the plan printer
    before the fix); the result stays L2-normalized."""
    from metadata_etl_framework_spark.ops.graph import (
        eigenvector_centrality,
    )
    from metadata_etl_framework_spark.sources.tables import load_table

    o = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pair = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
    s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    edges = pair.select(
        c.alias("src"), s.alias("dst"), F.col("n")
    ).unionAll(pair.select(s.alias("src"), c.alias("dst"), F.col("n")))
    out = eigenvector_centrality(edges, iterations=8, weight_col="n")
    rows = out.collect()
    out.unpersist()
    l2 = sum(r["score"] ** 2 for r in rows)
    assert abs(l2 - 1.0) < 1e-3
    assert len(rows) > 10_000


def test_countmin_rollup_bounded_at_6m(big, spark):
    """Round-13 continuation: the materialized count-min rollup over
    6M rows stays <= depth*width rows PER BUCKET regardless of input
    size (the sketch contract that makes range queries never re-read
    raw data)."""
    from metadata_etl_framework_spark.ops.sketch import (
        windowed_countmin_rollup,
    )

    df = big.select(
        F.col("l_partkey").alias("k"),
        F.to_timestamp(F.col("l_shipdate")).alias("ts"),
    )
    roll = windowed_countmin_rollup(
        df, "ts", "k", bucket="7 days", depth=3, width=128
    )
    per = roll.groupBy("bucket_start").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("cnt").alias("mass"),
    ).collect()
    assert per and all(r["c"] <= 3 * 128 for r in per)
    total = sum(int(r["mass"]) for r in per)
    n = df.where(
        F.col("k").isNotNull() & F.col("ts").isNotNull()
    ).count()
    assert total == 3 * n  # every row lands in depth counters


def test_exact_pico_sums_bit_identical_at_6m(big, spark):
    """The two-level exact path must reproduce the single-level
    DECIMAL(38,0) sums BIT-IDENTICALLY at 6M rows — the property the
    GLM/GMM trainers' oracle hashes rest on — including a grouped
    variant and the count."""
    from metadata_etl_framework_spark.ops.exact_agg import (
        exact_pico_sums,
    )

    base = big.select(
        (F.col("l_quantity").cast("double") / 10.0).alias("x"),
        (F.col("l_extendedprice").cast("double") / 100000.0).alias(
            "y"
        ),
        (F.col("l_orderkey") % 4).alias("g"),
    )
    terms = {
        "sx": F.col("x"),
        "sxy": F.col("x") * F.col("y"),
        "syy": F.col("y") * F.col("y"),
    }
    fast = exact_pico_sums(base, terms, count_alias="n").collect()[0]
    slow = base.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.round(t * F.lit(1e12)).cast("decimal(38,0)")
            ).alias(k)
            for k, t in terms.items()
        ],
    ).collect()[0]
    assert int(fast["n"]) == int(slow["n"])
    for k in terms:
        assert int(fast[k]) == int(slow[k])

    gfast = {
        int(r["g"]): r
        for r in exact_pico_sums(
            base, terms, group_cols=["g"], count_alias="n"
        ).collect()
    }
    gslow = {
        int(r["g"]): r
        for r in base.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.round(t * F.lit(1e12)).cast("decimal(38,0)")
                ).alias(k)
                for k, t in terms.items()
            ],
        )
        .collect()
    }
    assert set(gfast) == set(gslow)
    for g in gfast:
        for k in list(terms) + ["n"]:
            assert int(gfast[g][k]) == int(gslow[g][k])


def test_greedy_modularity_deterministic_on_ring_of_cliques(spark):
    """4 alternating-direction rounds on a 60x20 ring of cliques: two
    runs must be IDENTICAL (the determinism the unrolled oracle
    depends on), every clique must coalesce (this is the graph where
    pure min-ward moves trapped every clique's min node at Q 0.795 —
    the alternating rule must reach the block-structure optimum), and
    modularity must be near-ideal."""
    from metadata_etl_framework_spark.ops.graph import (
        greedy_modularity_move,
        modularity,
    )

    n_cliques, k = 60, 20
    rows = []
    for c in range(n_cliques):
        basev = c * k
        for i in range(k):
            for j in range(i + 1, k):
                rows.append((basev + i, basev + j))
        rows.append((basev + k - 1, ((c + 1) % n_cliques) * k))
    edges = spark.createDataFrame(rows, "src long, dst long")
    a = sorted(
        (r["node"], r["community"])
        for r in greedy_modularity_move(edges, rounds=4).collect()
    )
    b = sorted(
        (r["node"], r["community"])
        for r in greedy_modularity_move(edges, rounds=4).collect()
    )
    assert a == b
    lab = dict(a)
    for c in range(n_cliques):
        comm = {lab[c * k + i] for i in range(k)}
        assert len(comm) == 1  # each clique is one community
    labels_df = spark.createDataFrame(
        list(lab.items()), "node long, community long"
    )
    q = modularity(edges, labels_df).agg(
        F.sum("q_contrib").alias("q")
    ).collect()[0]["q"]
    assert q > 0.9  # near-ideal block structure recovered
