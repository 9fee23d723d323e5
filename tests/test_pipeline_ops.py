"""snapshot_diff / backdated_correction incremental strategies and the
redact_pii / chunk_documents training-data ops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadata_etl_framework_spark.incremental.merge import (
    backdated_correction,
    snapshot_diff,
)
from metadata_etl_framework_spark.ops.text import chunk_documents, redact_pii


def test_snapshot_diff_classifies_all_change_types(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, name string, bal double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 25.0), (4, "d", 40.0)],
        "k int, name string, bal double",
    )
    out = snapshot_diff(old, new, ["k"])
    got = {r.k: (r.change_type, r.bal) for r in out.collect()}
    assert got == {
        2: ("UPDATE", 25.0),
        3: ("DELETE", 30.0),   # old values surface for deletes
        4: ("INSERT", 40.0),
    }  # key 1 UNCHANGED → filtered out


def test_backdated_correction_merges_and_reports_partitions(spark):
    target = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-02 10:00:00", 2.0),
         (3, "2024-01-03 10:00:00", 3.0)],
        "k int, ts string, v double",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v")
    late = spark.createDataFrame(
        [(2, "2024-01-02 10:00:00", 99.0), (4, "2024-01-02 11:00:00", 4.0)],
        "k int, ts string, v double",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v")

    corrected, affected = backdated_correction(target, late, ["k"], "ts")
    got = {r.k: r.v for r in corrected.collect()}
    assert got == {1: 1.0, 2: 99.0, 3: 3.0, 4: 4.0}
    parts = {str(r[0]) for r in affected.collect()}
    assert parts == {"2024-01-02"}  # only one physical partition to rewrite


def test_redact_pii_all_kinds(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk today"),
            (2, "ssn 123-45-6789 and phone (415) 555-1234"),
            (3, "server 10.0.0.255 card 4111 1111 1111 1111 ok"),
            (4, "nothing sensitive here"),
            (5, None),
        ],
        "doc_id int, text string",
    )
    out = redact_pii(df)
    got = {r.doc_id: (r.text_redacted, r.n_redactions) for r in out.collect()}
    assert got[1] == ("mail me at <EMAIL> today", 1)
    assert got[2] == ("ssn <SSN> and phone <PHONE>", 2)
    assert got[3] == ("server <IP> card <CC> ok", 2)
    assert got[4] == ("nothing sensitive here", 0)
    assert got[5][0] is None


def test_chunk_documents_overlap_and_coverage(spark):
    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text), (2, "short doc"), (3, "")], "doc_id int, text string"
    )
    out = chunk_documents(df, max_tokens=4, overlap=1)
    rows = sorted(
        ((r.doc_id, r.chunk_index, r.chunk_text, r.n_chunk_tokens)
         for r in out.collect())
    )
    doc1 = [r for r in rows if r[0] == 1]
    # stride 3: starts 0,3,6 cover w0..w9 (ceil((10-1)/3)=3 chunks)
    assert [r[2] for r in doc1] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
    ]
    assert [r[3] for r in doc1] == [4, 4, 4]
    # consecutive chunks share exactly `overlap` tokens
    assert doc1[0][2].split()[-1] == doc1[1][2].split()[0]
    # short and empty docs produce exactly one chunk
    doc2 = [r for r in rows if r[0] == 2]
    assert len(doc2) == 1 and doc2[0][2] == "short doc" and doc2[0][3] == 2
    doc3 = [r for r in rows if r[0] == 3]
    assert len(doc3) == 1 and doc3[0][3] == 0
    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=4, overlap=4)


def test_chunk_documents_null_text_yields_one_empty_chunk(spark):
    # null text must not vanish in posexplode (parity with the DuckDB
    # oracle, which emits one row per null-text doc)
    df = spark.createDataFrame([(1, None), (2, "two words")],
                               "doc_id int, text string")
    rows = sorted((r.doc_id, r.chunk_text, r.n_chunk_tokens)
                  for r in chunk_documents(df, max_tokens=4, overlap=1).collect())
    assert rows == [(1, "", 0), (2, "two words", 2)]


def test_melt_unpivot_step(spark):
    from metadata_etl_framework_spark.operators import TransformEngine

    df = spark.createDataFrame(
        [(1, 10.0, 100.0), (2, 20.0, 200.0)], "k int, a double, b double"
    )
    engine = TransformEngine(spark)
    out = engine.execute_transformations(
        {"t": df},
        {"primary_source": "t",
         "steps": [{"type": "unpivot",
                    "config": {"ids": ["k"], "values": ["a", "b"]}}]},
    )
    got = {(r.k, r.variable, r.value) for r in out.collect()}
    assert got == {(1, "a", 10.0), (1, "b", 100.0),
                   (2, "a", 20.0), (2, "b", 200.0)}


def test_approx_profile_bounded_error(spark):
    from metadata_etl_framework_spark.functions.aggregations import (
        approx_profile,
        profile_columns,
    )
    from metadata_etl_framework_spark.sources.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    approx = {r.column: r for r in approx_profile(orders, cols).collect()}
    exact = {r.column: r for r in profile_columns(orders, cols).collect()}
    for c in cols:
        a, e = approx[c], exact[c]
        assert a["count"] == e["count"] and a.null_count == e.null_count
        # HLL: within 5*rsd of exact (rsd=0.05 → 25%; generous, no flake)
        assert abs(a.approx_distinct - e.distinct) <= max(5, 0.25 * e.distinct)
        if e.median is not None:
            assert a.min == e.min and a.max == e.max
            spread = (e.max - e.min) or 1.0
            assert abs(a.median - e.median) <= 0.1 * spread


def test_stratified_sample_proportions_and_determinism(spark):
    from metadata_etl_framework_spark.functions.aggregations import (
        stratified_sample,
    )
    from metadata_etl_framework_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    frac = {"click": 0.5, "view": 0.1}
    s = stratified_sample(ev.filter(F.col("event_type").isin(list(frac))),
                          "event_type", frac, seed=7)
    base = {r.event_type: r.n for r in
            ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r.event_type: r.n for r in
           s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    for k, f in frac.items():
        assert abs(got.get(k, 0) / base[k] - f) < 0.1, (k, got.get(k), base[k])
    # deterministic per seed
    s2 = stratified_sample(ev.filter(F.col("event_type").isin(list(frac))),
                           "event_type", frac, seed=7)
    assert {r.event_id for r in s.collect()} == {r.event_id for r in s2.collect()}
    # scalar fraction path
    s3 = stratified_sample(ev, "event_type", 0.2, seed=7)
    assert 0 < s3.count() < ev.count()


def test_stratified_sample_independent_of_partitioning(spark):
    from metadata_etl_framework_spark.functions.aggregations import (
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b", i * 0.25) for i in range(2000)],
        "id long, s string, v double",
    )
    frac = {"a": 0.1, "b": 0.4}
    one = stratified_sample(df.repartition(1), "s", frac, seed=3).collect()
    seven = stratified_sample(df.repartition(7), "s", frac, seed=3).collect()
    assert sorted(one) == sorted(seven)
    assert 0 < len(one) < 2000
    # a stratum missing from the dict keeps nothing
    assert stratified_sample(df, "s", {"a": 1.0}, seed=3).filter("s = 'b'").count() == 0


def test_c4_quality_flags(spark):
    from metadata_etl_framework_spark.ops.text import c4_quality_flags

    df = spark.createDataFrame(
        [
            (1, "A clean doc.\nWith good lines!\nAll terminated."),
            (2, "Buy now lorem ipsum dolor"),
            (3, "enable JavaScript to view this page"),
            (4, "function f() { return 1; }"),
            (5, "no terminal punctuation here\nnor here"),
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r for r in c4_quality_flags(df).collect()}
    assert got[1].c4_keep and got[1].terminal_punct_ratio == 1.0
    assert got[1].n_lines == 3
    assert got[2].has_lorem_ipsum and not got[2].c4_keep
    assert got[3].has_javascript and not got[3].c4_keep
    assert got[4].has_curly_brace and not got[4].c4_keep
    assert got[5].c4_keep and got[5].terminal_punct_ratio == 0.0


def test_vocabulary_counts_and_topk(spark):
    from metadata_etl_framework_spark.ops.text import vocabulary

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "The cat ran"), (3, ""), (4, None)],
        "doc_id int, text string",
    )
    vocab = {r.token: r["count"] for r in vocabulary(df).collect()}
    assert vocab == {"the": 2, "cat": 2, "sat": 1, "ran": 1}
    top = vocabulary(df, top_k=2).collect()
    assert [(r.token, r["count"]) for r in top] == [("cat", 2), ("the", 2)]
    assert {r.token for r in vocabulary(df, min_count=2).collect()} == {"the", "cat"}


def test_continuous_rollup_equals_direct_aggregation(spark, tmp_path):
    """rollup_with_tail (materialized closed buckets + raw tail) must be
    row-identical to aggregating the raw table directly — the continuous
    aggregate contract."""
    from metadata_etl_framework_spark.ops.rollup import (
        bucket_aggregate,
        materialize_rollup,
        rollup_with_tail,
    )
    from metadata_etl_framework_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    cutoff = "2024-01-15 00:00:00"  # aligned to the 1-hour bucket grid
    path = str(tmp_path / "rollup")
    materialize_rollup(ev, "ts", "1 hour", cutoff, path,
                       group_by=["event_type"])
    merged = rollup_with_tail(spark, path, ev, "ts", "1 hour", cutoff,
                              group_by=["event_type"])

    direct = bucket_aggregate(ev, "ts", "1 hour", ["event_type"]).select(
        "bucket_start", "event_type", "n",
        F.col("value_sum_dec").cast("double").alias("value_sum"),
        F.when(F.col("n") > 0,
               F.col("value_sum_dec").cast("double") / F.col("n")
               ).alias("value_avg"),
        "value_min", "value_max",
    )
    m = {tuple(r) for r in merged.collect()}
    d = {tuple(r) for r in direct.collect()}
    assert m == d and len(m) > 0
    # both sides contribute: buckets exist before AND after the cutoff
    starts = {r[0] for r in m}
    import datetime as dt
    c = dt.datetime(2024, 1, 15)
    assert any(s < c for s in starts) and any(s >= c for s in starts)


import pytest as _pytest


@_pytest.mark.parametrize("gate", [2_000_000, 0])
def test_connected_components_chain_star_and_convergence(
    spark, monkeypatch, gate
):
    """Transitive chains collapse to one cluster (A~B, B~C, C~D with no
    direct A~D pair), stars keep their hub's min id, and disjoint
    components stay separate — identical through BOTH the driver
    union-find fast path (gate above edge count) and the distributed
    hash-min loop (gate=0, i.e. SPARK_GRAFT_DRIVER_GATE=0)."""
    from metadata_etl_framework_spark.ops.dedup import connected_components

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "1" if gate else "0")
    pairs = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1),        # reversed chain → min id 1 wins
         (10, 11),                      # isolated pair
         (20, 21), (20, 22), (20, 23)], # star
        "id_a long, id_b long",
    )
    got = {(r.node, r.cluster_id, r.is_canonical)
           for r in connected_components(pairs).collect()}
    assert got == {
        (1, 1, True), (2, 1, False), (3, 1, False), (4, 1, False),
        (10, 10, True), (11, 10, False),
        (20, 20, True), (21, 20, False), (22, 20, False), (23, 20, False),
    }


@_pytest.mark.parametrize("gate", [2_000_000, 0])
def test_connected_components_long_chain_needs_iterations(
    spark, monkeypatch, gate
):
    """A 12-node path exercises multiple propagation rounds (hash-min
    moves labels one hop per round along a path)."""
    from metadata_etl_framework_spark.ops.dedup import connected_components

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "1" if gate else "0")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "id_a long, id_b long"
    )
    out = connected_components(pairs).collect()
    assert {r.cluster_id for r in out} == {100}
    assert sum(r.is_canonical for r in out) == 1


@_pytest.mark.parametrize("gate", [2_000_000, 0])
def test_connected_components_string_ids(spark, monkeypatch, gate):
    """String document ids work on both paths (the distributed loop must
    not attempt the numeric sum-convergence shortcut on strings)."""
    from metadata_etl_framework_spark.ops.dedup import connected_components

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "1" if gate else "0")
    pairs = spark.createDataFrame(
        [("docC", "docB"), ("docB", "docA"), ("docX", "docY")],
        "id_a string, id_b string",
    )
    got = {(r.node, r.cluster_id, r.is_canonical)
           for r in connected_components(pairs).collect()}
    assert got == {
        ("docA", "docA", True), ("docB", "docA", False),
        ("docC", "docA", False),
        ("docX", "docX", True), ("docY", "docX", False),
    }


def test_simhash_banding_is_complete_for_small_hamming(spark):
    """Pigeonhole completeness: banded candidate generation must find
    EVERY pair within Hamming distance n_bands-1 — verified against
    brute-force Hamming over all signature pairs."""
    from itertools import combinations

    from metadata_etl_framework_spark.ops.dedup import (
        simhash,
        simhash_near_duplicates,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        "alpha beta gamma delta epsilon zeta eta theta mu kappa",
        "one two three four five six seven eight nine ten",
        "one two three four five six seven eight nine eleven",
        "totally unrelated content about distributed shuffle behavior",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(docs, max_hamming=3).collect()
    }
    assert got == brute
    assert all(h <= 3 for h in got.values())


def test_mixing_plan_hits_target_ratio_and_caps_scarce_source(spark):
    """Realized token counts (fraction × tokens) must land on the target
    share ratio exactly, with the scarcest source pinned at fraction 1
    (it defines the achievable budget)."""
    from metadata_etl_framework_spark.ops.text import mixing_plan

    docs = spark.createDataFrame(
        [(i, "w " * 100, "big") for i in range(100)]        # 10_000 tokens
        + [(1000 + i, "w " * 50, "small") for i in range(10)],  # 500 tokens
        "doc_id long, text string, source string",
    )
    weights = spark.createDataFrame(
        [("big", 0.5), ("small", 0.5)], "source string, share double"
    )
    plan = {r["source"]: r for r in mixing_plan(docs, weights).collect()}
    # small source is scarcest: 500/0.5 = 1000 token budget → takes all
    assert plan["small"]["sample_fraction"] == 1.0
    assert plan["small"]["expected_tokens"] == 500
    # big source downsamples to match: 0.5 * 1000 / 10000 = 0.05
    assert plan["big"]["sample_fraction"] == 0.05
    assert plan["big"]["expected_tokens"] == 500


def test_zorder_layout_prunes_both_dimensions(spark):
    """A layout range-partitioned on l_partkey alone can NEVER prune a
    predicate on l_suppkey — every partition spans the full suppkey
    range. The z-ordered layout must: for a suppkey-band predicate, a
    strict subset of its partition envelopes overlap. (This is the
    file-skipping win parquet row-group stats deliver at scale.)"""
    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.ops.layout import zorder_repartition
    from metadata_etl_framework_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    n_parts = 32

    def envelopes(df):
        return df.groupBy(F.spark_partition_id().alias("pid")).agg(
            F.min("l_suppkey").alias("mns"), F.max("l_suppkey").alias("mxs"),
        ).collect()

    z_env = envelopes(
        zorder_repartition(li, ["l_partkey", "l_suppkey"], bits=8,
                           num_partitions=n_parts)
    )
    lin_env = envelopes(li.repartitionByRange(n_parts, "l_partkey"))

    s_lo, s_hi = li.agg(F.min("l_suppkey"), F.max("l_suppkey")).collect()[0]
    band = (s_lo + (s_hi - s_lo) * 0.45, s_lo + (s_hi - s_lo) * 0.55)

    def overlapping(env):
        return sum(
            1 for r in env if not (r["mxs"] < band[0] or r["mns"] > band[1])
        )

    z_hit, lin_hit = overlapping(z_env), overlapping(lin_env)
    # linear layout: every partition spans ~the full suppkey range
    assert lin_hit == len(lin_env)
    assert z_hit < lin_hit, (z_hit, lin_hit)


def test_apply_mixing_plan_realizes_expected_tokens(spark):
    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.ops.text import (
        apply_mixing_plan,
        mixing_plan,
        tokens,
    )

    docs = spark.createDataFrame(
        [(i, "w " * 20, "big") for i in range(2000)]       # 40_000 tokens
        + [(10_000 + i, "w " * 20, "small") for i in range(100)],  # 2_000
        "doc_id long, text string, source string",
    )
    weights = spark.createDataFrame(
        [("big", 0.5), ("small", 0.5)], "source string, share double"
    )
    plan = mixing_plan(docs, weights)
    expected = {
        r["source"]: r["expected_tokens"] for r in plan.collect()
    }
    mixed = apply_mixing_plan(docs, plan, seed=7)
    got = {
        r["source"]: r["t"]
        for r in mixed.groupBy("source")
        .agg(F.sum(F.size(tokens("text"))).alias("t"))
        .collect()
    }
    assert got["small"] == expected["small"] == 2000  # fraction 1.0: exact
    # Bernoulli stratum: within 20% of the expected token budget
    assert abs(got["big"] - expected["big"]) / expected["big"] < 0.2


def test_apply_mixing_plan_independent_of_partitioning(spark):
    from metadata_etl_framework_spark.ops.text import (
        apply_mixing_plan,
        mixing_plan,
    )

    docs = spark.createDataFrame(
        [(i, "w " * (1 + i % 9), ("a", "b", "c")[i % 3]) for i in range(600)],
        "doc_id long, text string, source string",
    )
    weights = spark.createDataFrame(
        [("a", 0.2), ("b", 0.3), ("c", 0.5)], "source string, share double"
    )
    plan = mixing_plan(docs, weights)
    one, seven = (
        sorted(apply_mixing_plan(docs.repartition(n), plan, seed=3).collect())
        for n in (1, 7)
    )
    assert one == seven
    assert 0 < len(one) < 600


def test_global_prefix_sum_matches_naive_window(spark):
    from metadata_etl_framework_spark.ops.packing import global_prefix_sum

    rows = [(i, (i * 7) % 13) for i in range(200)]
    df = spark.createDataFrame(rows, "id int, v int")
    # force several range partitions so the two-phase path is exercised
    out = global_prefix_sum(df, "id", "v", out="ps", num_partitions=7)
    got = {r.id: r.ps for r in out.collect()}
    acc, want = 0, {}
    for i, v in rows:
        acc += v
        want[i] = acc
    assert got == want


def test_pack_sequences_offsets_and_straddles(spark):
    from metadata_etl_framework_spark.ops.packing import (
        pack_sequences,
        packing_summary,
    )

    docs = spark.createDataFrame(
        [
            ("a", "w " * 6),   # 6 tokens  → seq 0, offsets 0-5
            ("b", "w " * 3),   # 3 tokens  → starts seq 0, ends seq 0 (6..8)
            ("c", "w " * 4),   # 4 tokens  → starts seq 0 at 9, ends 12 → straddles
            ("d", ""),         # 0 tokens  → zero-width at offset 13, seq 1
            ("e", "w"),        # 1 token   → seq 1
        ],
        "doc_id string, text string",
    )
    out = pack_sequences(docs, seq_len=10, num_partitions=3)
    got = {
        r.doc_id: (r.n_tokens, r.start_offset, r.seq_id, r.end_seq_id, r.straddles)
        for r in out.collect()
    }
    assert got == {
        "a": (6, 0, 0, 0, False),
        "b": (3, 6, 0, 0, False),
        "c": (4, 9, 0, 1, True),
        "d": (0, 13, 1, 1, False),
        "e": (1, 13, 1, 1, False),
    }
    summary = {r.seq_id: (r.n_docs, r.n_tokens, r.n_straddling)
               for r in packing_summary(out, seq_len=10).collect()}
    assert summary == {0: (3, 13, 1), 1: (2, 1, 0)}


def test_pack_sequences_null_text_counts_zero(spark):
    from metadata_etl_framework_spark.ops.packing import pack_sequences

    docs = spark.createDataFrame(
        [("a", None), ("b", "x y z")], "doc_id string, text string"
    )
    got = {r.doc_id: (r.n_tokens, r.start_offset)
           for r in pack_sequences(docs, seq_len=4).collect()}
    assert got == {"a": (0, 0), "b": (3, 0)}


def test_topk_per_group_deterministic_ties(spark):
    from metadata_etl_framework_spark.functions import topk_per_group

    df = spark.createDataFrame(
        [("g", 5.0, 1), ("g", 5.0, 2), ("g", 4.0, 3), ("g", 3.0, 4),
         ("h", 1.0, 1)],
        "grp string, score double, seq int",
    )
    out = topk_per_group(df, ["grp"], "score", k=2, tiebreak=["seq"])
    got = sorted((r.grp, r.rk, r.score, r.seq) for r in out.collect())
    assert got == [("g", 1, 5.0, 1), ("g", 2, 5.0, 2), ("h", 1, 1.0, 1)]


def test_histogram_bins_and_upper_bound(spark):
    from metadata_etl_framework_spark.functions import histogram

    df = spark.createDataFrame(
        [(0.0,), (2.5,), (5.0,), (7.5,), (10.0,), (None,)], "x double"
    )
    out = {r.bin: (r.bin_lo, r.bin_hi, r.cnt) for r in histogram(df, "x", nbins=4).collect()}
    # max value lands in the LAST bin, nulls dropped
    assert out == {
        0: (0.0, 2.5, 1),
        1: (2.5, 5.0, 1),
        2: (5.0, 7.5, 1),
        3: (7.5, 10.0, 2),
    }


def test_histogram_constant_column_single_bin(spark):
    from metadata_etl_framework_spark.functions import histogram

    df = spark.createDataFrame([(3.0,), (3.0,), (3.0,)], "x double")
    out = histogram(df, "x", nbins=5).collect()
    assert len(out) == 1 and out[0].bin == 0 and out[0].cnt == 3


def test_sample_n_per_group_exact_and_deterministic(spark):
    from metadata_etl_framework_spark.functions import sample_n_per_group

    df = spark.createDataFrame(
        [(g, i) for g in ("a", "b") for i in range(10)] + [("tiny", 0)],
        "grp string, k int",
    )
    out1 = sample_n_per_group(df, ["grp"], 3, ["k"]).collect()
    out2 = sample_n_per_group(df.repartition(7), ["grp"], 3, ["k"]).collect()
    # exact per-group counts (min(n, group size)) and partitioning-independent
    from collections import Counter
    assert Counter(r.grp for r in out1) == {"a": 3, "b": 3, "tiny": 1}
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    # a different salt draws a different sample
    out3 = sample_n_per_group(df, ["grp"], 3, ["k"], salt="other").collect()
    assert sorted(map(tuple, out1)) != sorted(map(tuple, out3))


def test_groupwise_quantiles_exact_interpolation(spark):
    from metadata_etl_framework_spark.functions import groupwise_quantiles

    df = spark.createDataFrame(
        [("g", float(v)) for v in (1, 2, 3, 4)], "grp string, x double"
    )
    row = groupwise_quantiles(df, ["grp"], "x", quantiles=(0.5,)).collect()[0]
    assert row.p50 == 2.5  # exact interpolated median, not a nearest-rank approx


def test_funnel_requires_in_order_progression(spark):
    from metadata_etl_framework_spark.ops.funnel import funnel_counts

    rows = [
        # u1 completes in order
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 10:05:00", "click"),
        (1, "2024-01-01 10:10:00", "purchase"),
        # u2 purchases BEFORE clicking → reaches click only
        (2, "2024-01-01 09:00:00", "view"),
        (2, "2024-01-01 09:10:00", "purchase"),
        (2, "2024-01-01 09:20:00", "click"),
        # u3 never views → counts nowhere despite click+purchase
        (3, "2024-01-01 08:00:00", "click"),
        (3, "2024-01-01 08:05:00", "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id int, ts string, event_type string"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    out = {r.step_name: (r.users_reached, r.conversion_from_prev)
           for r in funnel_counts(ev, ["view", "click", "purchase"]).collect()}
    assert out == {
        "view": (2, 1.0),        # u1, u2
        "click": (2, 1.0),       # both clicked after viewing
        "purchase": (1, 0.5),    # only u1 purchased after clicking
    }


def test_heavy_hitters_exact_at_threshold(spark):
    from metadata_etl_framework_spark.functions import heavy_hitters

    # 10 rows: 'a'x5, 'b'x3, 'c'x2 → at 0.3 only a and b qualify ('b' sits
    # exactly ON the threshold and must be included — sketch runs at s/2)
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2, "v string"
    )
    out = [(r.value, r.cnt, r.fraction) for r in heavy_hitters(df, "v", 0.3).collect()]
    assert out == [("a", 5, 0.5), ("b", 3, 0.3)]


def test_winsorize_clips_to_exact_quantiles(spark):
    from metadata_etl_framework_spark.quality.anomaly import winsorize

    df = spark.createDataFrame([(float(v),) for v in range(1, 11)], "x double")
    out = winsorize(df, ["x"], lower_q=0.1, upper_q=0.9)
    vals = sorted(r.x_capped for r in out.collect())
    # exact interpolated p10=1.9, p90=9.1 (pandas parity)
    assert vals[0] == 1.9 and vals[-1] == 9.1
    assert vals[3] == 4.0  # interior values untouched


def test_write_sized_splits_files_by_target(spark, tmp_path):
    import glob

    from metadata_etl_framework_spark.ops.layout import write_sized

    df = spark.range(50_000).withColumn("payload", F.lit("x" * 200)).coalesce(1)
    small = str(tmp_path / "small")
    rpf = write_sized(df, small, target_file_mb=1)
    files = glob.glob(small + "/*.parquet")
    assert rpf < 50_000 and len(files) > 1  # target forced a split
    big = str(tmp_path / "big")
    write_sized(df, big, target_file_mb=1024)
    assert len(glob.glob(big + "/*.parquet")) == 1
    # partitioned write: one directory per key, readable back
    part = str(tmp_path / "part")
    df2 = spark.range(1000).withColumn("k", (F.col("id") % 3).cast("int"))
    write_sized(df2, part, target_file_mb=64, partition_cols=["k"])
    assert spark.read.parquet(part).count() == 1000
    assert len(glob.glob(part + "/k=*")) == 3


def test_parse_json_column_inferred_and_malformed(spark):
    from metadata_etl_framework_spark.functions import parse_json_column

    df = spark.createDataFrame(
        [(1, '{"a": 5, "b": "x"}'), (2, '{"a": 7, "b": "y"}'),
         (3, "not json"), (4, None)],
        "id int, payload string",
    )
    out = parse_json_column(df, "payload", drop_source=True)
    got = {r.id: (r.a, r.b) for r in out.collect()}
    assert got == {1: (5, "x"), 2: (7, "y"), 3: (None, None), 4: (None, None)}
    # explicit schema overrides inference
    out2 = parse_json_column(df, "payload", schema="a INT", prefix="j_")
    assert "j_a" in out2.columns
    # all-null column: passthrough, no crash
    null_df = spark.createDataFrame([(1, None)], "id int, payload string")
    assert parse_json_column(null_df, "payload").columns == ["id", "payload"]


def test_diagnose_skew_flags_hot_key(spark):
    from metadata_etl_framework_spark.functions import diagnose_skew

    df = spark.createDataFrame(
        [("hot", i) for i in range(90)] + [(f"k{i}", i) for i in range(10)],
        "k string, v int",
    )
    out = diagnose_skew(df, ["k"], top_n=3).collect()
    top = out[0]
    # 11 groups, 100 rows → mean ≈ 9.09; hot has 90 rows
    assert top.k == "hot" and top.cnt == 90 and top.share == 0.9
    assert abs(top.skew_factor - 90 / (100 / 11)) < 1e-6
    assert all(r.cnt == 1 for r in out[1:])


def test_oov_rate_counts_and_empty_docs(spark):
    from metadata_etl_framework_spark.ops.text import oov_rate

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "UNKNOWN words here"), (3, ""), (4, None)],
        "doc_id int, text string",
    )
    vocab = spark.createDataFrame([("the",), ("cat",), ("words",)], "token string")
    got = {r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
           for r in oov_rate(docs, vocab).collect()}
    assert got[1] == (3, 1, round(1 / 3, 6))   # 'sat' OOV
    assert got[2] == (3, 2, round(2 / 3, 6))   # lowercased 'unknown','here' OOV
    assert got[3] == (0, 0, 0.0) and got[4] == (0, 0, 0.0)


def test_unigram_logprob_add_one_smoothing(spark):
    import math

    from metadata_etl_framework_spark.ops.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "zzz"), (3, "")], "doc_id int, text string"
    )
    vocab = spark.createDataFrame([("a", 2), ("b", 1)], "token string, count int")
    got = {r.doc_id: (r.n_tokens, r.mean_logprob)
           for r in unigram_logprob(docs, vocab).collect()}
    n_plus_v = 3 + 2  # N=3 counts, V=2 types
    lp_a, lp_b = math.log(3 / n_plus_v), math.log(2 / n_plus_v)
    assert got[1][0] == 3
    assert abs(got[1][1] - round((2 * lp_a + lp_b) / 3, 6)) < 2e-6
    assert abs(got[2][1] - round(math.log(1 / n_plus_v), 6)) < 2e-6  # OOV floor
    assert got[3] == (0, None)  # empty doc → null score


def test_corpus_summary_shares(spark):
    from metadata_etl_framework_spark.ops.text import corpus_summary

    docs = spark.createDataFrame(
        [("web", "en", "one two"), ("web", "en", "three"), ("book", "de", "vier")],
        "source string, lang string, text string",
    )
    got = {(r.source, r.lang): (r.n_docs, r.total_tokens, r.doc_share)
           for r in corpus_summary(docs).collect()}
    assert got[("web", "en")] == (2, 3, round(2 / 3, 6))
    assert got[("book", "de")] == (1, 1, round(1 / 3, 6))


def test_incremental_dedup_flags(spark):
    """New-batch probes against a seen corpus: exact fingerprint hit,
    cross-corpus near-dup (Jaccard >= t), and keep = neither; empty and
    novel docs always keep."""
    from metadata_etl_framework_spark.ops.dedup import incremental_dedup

    seen = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different content here entirely")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),   # exact
         (11, "the quick brown fox jumps over the lazy cat"),   # near
         (12, "utterly novel words never seen before anywhere"),
         (13, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.is_exact_dup, r.is_near_dup, r.keep)
           for r in incremental_dedup(new, seen, threshold=0.5).collect()}
    assert got == {
        10: (True, True, False),
        11: (False, True, False),
        12: (False, False, True),
        13: (False, False, True),
    }
    with __import__("pytest").raises(ValueError):
        incremental_dedup(new, seen, threshold=0).collect()


# ------------------------------------------------------------ global line dedup


def test_dedup_lines_global_boilerplate_removal(spark):
    """A footer appearing in 3 docs (> max_docs=2) is dropped everywhere;
    unique lines and blank lines survive, text reassembles in order, and
    NULL text stays NULL."""
    from metadata_etl_framework_spark.ops.text import dedup_lines_global

    footer = "subscribe to our newsletter"
    rows = [
        (1, f"alpha one\n{footer}\nbeta two"),
        (2, f"{footer}\ngamma three"),
        (3, f"delta four\n\n{footer}"),
        (4, "unique only"),
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_lines_global(df, max_docs=2).collect()}
    assert out[1].clean_text == "alpha one\nbeta two"
    assert out[1].n_lines_kept == 2 and out[1].n_lines_dropped == 1
    assert out[2].clean_text == "gamma three"
    # blank line is structural: kept, never counted as boilerplate
    assert out[3].clean_text == "delta four\n"
    assert out[4].clean_text == "unique only" and out[4].n_lines_dropped == 0
    assert out[5].clean_text is None and out[5].n_lines_kept == 0
    assert out[6].clean_text == "" and out[6].n_lines_kept == 1


def test_dedup_lines_global_respects_max_docs(spark):
    """A line in exactly max_docs documents is NOT boilerplate."""
    from metadata_etl_framework_spark.ops.text import dedup_lines_global

    df = spark.createDataFrame(
        [(1, "shared line\na"), (2, "shared line\nb")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.clean_text
           for r in dedup_lines_global(df, max_docs=2).collect()}
    assert out == {1: "shared line\na", 2: "shared line\nb"}


# ------------------------------------------------------------- repeated spans


def test_repeated_ngram_spans_merge_overlaps(spark):
    """Two docs sharing a 6-token run with n=3 windows: the four
    overlapping window hits must fuse into ONE maximal span per doc,
    and a doc with no repeats emits nothing."""
    from metadata_etl_framework_spark.ops.text import repeated_ngram_spans

    shared = "one two three four five six"
    df = spark.createDataFrame(
        [
            (1, f"intro words {shared} tail"),
            (2, f"{shared} something else entirely"),
            (3, "completely unrelated text here now"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.span_start, r.span_end, r.span_tokens)
           for r in repeated_ngram_spans(df, n=3, min_docs=2).collect()}
    # doc1: shared run starts at token 2 (0-based), 6 tokens -> [2, 7]
    assert out[1] == (2, 7, 6)
    # doc2: starts at 0 -> [0, 5]
    assert out[2] == (0, 5, 6)
    assert 3 not in out


def test_repeated_ngram_spans_disjoint_spans_stay_separate(spark):
    from metadata_etl_framework_spark.ops.text import repeated_ngram_spans

    a, b = "aa bb cc", "xx yy zz"
    df = spark.createDataFrame(
        [(1, f"{a} filler words here {b}"), (2, f"{a} mid {b}")],
        "doc_id long, text string",
    )
    spans = (
        repeated_ngram_spans(df, n=3, min_docs=2)
        .filter("doc_id = 1")
        .orderBy("span_start")
        .collect()
    )
    assert [(r.span_start, r.span_end) for r in spans] == [(0, 2), (6, 8)]


def test_remove_spans_roundtrip(spark):
    """Spans found by repeated_ngram_spans are cut from the text; docs
    without spans pass through token-normalized; NULL stays NULL."""
    from metadata_etl_framework_spark.ops.text import (
        remove_spans,
        repeated_ngram_spans,
    )

    shared = "one two three four five six"
    df = spark.createDataFrame(
        [
            (1, f"intro words {shared} tail"),
            (2, f"{shared} something else entirely"),
            (3, "untouched   text here now"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    spans = repeated_ngram_spans(df, n=3, min_docs=2)
    out = {r.doc_id: r for r in remove_spans(df, spans).collect()}
    assert out[1].clean_text == "intro words tail"
    assert out[1].n_tokens_removed == 6 and out[1].n_tokens_kept == 3
    assert out[2].clean_text == "something else entirely"
    assert out[3].clean_text == "untouched text here now"
    assert out[3].n_tokens_removed == 0
    assert out[4].clean_text is None


def test_normalize_text_steps_and_nulls(spark):
    from metadata_etl_framework_spark.ops.text import normalize_text

    docs = spark.createDataFrame(
        [
            (1, "  Hello,\x07  WORLD!!  "),
            (2, "already clean"),
            (3, None),
            (4, "tabs\tand\nnewlines"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in
           normalize_text(docs, strip_punct=True).collect()}
    assert out[1].text_normalized == "hello world"
    assert out[1].was_changed is True
    assert out[2].was_changed is False
    assert out[3].text_normalized is None and out[3].was_changed is None
    # \t and \n are whitespace (collapsed), not control (stripped)
    assert out[4].text_normalized == "tabs and newlines"

    # selective steps: keep case and punctuation
    kept = {r.doc_id: r.text_normalized for r in normalize_text(
        docs, lowercase=False, strip_punct=False).collect()}
    assert kept[1] == "Hello, WORLD!!"


def test_logrank_detects_differential_churn(spark):
    # arm A: users all stop 10 days before the end (churn);
    # arm B: users active to the end (censored)
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(20):
        # A-user i: events on day 0 .. day 5+i%3, last far from end
        rows.append((i, "A", base))
        rows.append((i, "A", base + dt.timedelta(days=5 + i % 3)))
    for i in range(20, 40):
        rows.append((i, "B", base))
        rows.append((i, "B", base + dt.timedelta(days=29)))
    df = spark.createDataFrame(rows, "user_id long, variant string, ts timestamp")
    from metadata_etl_framework_spark.ops.retention import logrank_test

    r = logrank_test(df, "variant", "user_id", "ts", horizon_days=7).collect()[0]
    assert r["n_a"] == 20 and r["n_b"] == 20
    assert r["events_a"] == 20 and r["events_b"] == 0
    assert r["chi2"] > 10 and r["p_value"] < 0.01
    assert r["significant_95"]


def test_logrank_identical_groups_not_significant(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(40):
        g = "A" if i % 2 == 0 else "B"
        rows.append((i, g, base))
        rows.append((i, g, base + dt.timedelta(days=(i // 2) % 10)))
    df = spark.createDataFrame(rows, "user_id long, variant string, ts timestamp")
    from metadata_etl_framework_spark.ops.retention import logrank_test

    r = logrank_test(df, "variant", "user_id", "ts", horizon_days=5).collect()[0]
    # identical lifetime distributions -> O ~ E, tiny chi2
    assert r["chi2"] is None or r["chi2"] < 1.0
    assert r["significant_95"] is None or not r["significant_95"]


def test_closeness_sampled_path_graph(spark):
    """Path graph 0-1-2-3-4: hand-checkable distances; the endpoint is
    strictly less central than the middle by both measures."""
    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.ops.graph import closeness_sampled

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "src long, dst long"
    )
    out = {r["seed"]: r for r in
           closeness_sampled(edges, [0, 2], max_hops=10).collect()}
    # seed 0: dists 0+1+2+3+4 = 10 -> closeness 4/10
    assert out[0]["n_reached"] == 5 and out[0]["total_dist"] == 10
    assert out[0]["closeness"] == 0.4
    # seed 2 (middle): dists 1+2 twice = 6 -> closeness 4/6
    assert out[2]["total_dist"] == 6
    assert out[2]["closeness"] == round(4 / 6, 6)
    assert out[2]["harmonic"] > out[0]["harmonic"]


def test_closeness_sampled_disconnected(spark):
    from metadata_etl_framework_spark.ops.graph import closeness_sampled

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "src long, dst long"
    )
    out = {r["seed"]: r for r in
           closeness_sampled(edges, [0, 10], max_hops=5).collect()}
    # components are audited separately - no phantom reachability
    assert out[0]["n_reached"] == 3 and out[10]["n_reached"] == 2
    # harmonic stays meaningful on the small component
    assert out[10]["harmonic"] == 1.0


def test_closeness_sampled_seed_gates(spark):
    import pytest as _pt

    from metadata_etl_framework_spark.ops.graph import closeness_sampled

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with _pt.raises(ValueError, match="non-empty"):
        closeness_sampled(edges, [])
    with _pt.raises(ValueError, match="seeds"):
        closeness_sampled(edges, list(range(1001)))


def test_hits_bipartite_roles_and_star(spark):
    """Star hub 0 -> {1,2,3}: node 0 is the only hub, leaves are pure
    equal authorities; bipartite direction is preserved."""
    from metadata_etl_framework_spark.ops.graph import hits

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    out = {r["node"]: r for r in hits(edges, iterations=3).collect()}
    assert out[0]["hub"] == 1.0 and out[0]["authority"] == 0.0
    for leaf in (1, 2, 3):
        assert out[leaf]["hub"] == 0.0
        assert out[leaf]["authority"] == round(1 / 3, 6)


def test_hits_favors_well_pointed_authority(spark):
    from metadata_etl_framework_spark.ops.graph import hits

    # authority 10 is cited by 3 hubs, authority 20 by only 1
    edges = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (3, 20)], "src long, dst long"
    )
    out = {r["node"]: r for r in hits(edges, iterations=3).collect()}
    assert out[10]["authority"] > out[20]["authority"]
    # hub 3 cites both authorities -> strictly better hub than 1/2
    assert out[3]["hub"] > out[1]["hub"] == out[2]["hub"]
    # L1 normalization: scores sum to ~1 per side
    assert abs(sum(r["hub"] for r in out.values()) - 1.0) < 1e-4
    assert abs(sum(r["authority"] for r in out.values()) - 1.0) < 1e-4


def test_hits_iteration_gate(spark):
    import pytest as _pt

    from metadata_etl_framework_spark.ops.graph import hits

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with _pt.raises(ValueError, match="iterations"):
        hits(edges, iterations=0)


def test_hits_tol_early_stop_matches_fixed(spark, monkeypatch):
    """Round-12 verdict task 7: the star graph converges after round 1
    (every later round reproduces the same normalized scores), so a
    tol run capped at 20 iterations must return EXACTLY the fixed
    2-round result — and must run fewer jobs than the cap (verified by
    equality: each completed tol round is identical to the fixed-count
    round, so any early stop lands on a fixed-count result).

    A graph that converges gradually stops mid-run: with tol=1e-4 after
    round 8 of 20 (both L1 deltas come from one aggregate per round),
    on exactly the 8-round fixed-count rows."""
    from metadata_etl_framework_spark.ops import materialize
    from metadata_etl_framework_spark.ops.graph import hits

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    fixed = sorted(map(tuple, hits(edges, iterations=2).collect()))
    tol = sorted(
        map(tuple, hits(edges, iterations=20, tol=1e-9).collect())
    )
    assert tol == fixed
    # tol=None keeps the exact fixed-count contract (oracle unchanged)
    assert sorted(
        map(tuple, hits(edges, iterations=3).collect())
    ) == fixed

    edges = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (3, 20), (4, 20), (4, 30), (5, 30),
         (1, 30), (10, 4), (20, 1)],
        "src long, dst long",
    )
    cuts = []
    cut = materialize.Supersteps.cut
    monkeypatch.setattr(
        materialize.Supersteps, "cut",
        lambda self, *a: cuts.append(1) or cut(self, *a),
    )
    tol = sorted(map(tuple, hits(edges, iterations=20, tol=1e-4).collect()))
    assert (len(cuts) - 1) // 2 == 8  # the node set, then auth + hub per round
    monkeypatch.undo()
    assert tol == sorted(map(tuple, hits(edges, iterations=8).collect()))
    assert tol != sorted(map(tuple, hits(edges, iterations=7).collect()))



def test_random_walks_ring_and_dangling(spark):
    from metadata_etl_framework_spark.ops.graph import random_walks

    # deterministic ring 0->1->2->0 (deg 1 everywhere: hash mod 1 = 0,
    # the walk MUST follow the ring) plus dangling edge 5->6
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (5, 6)], "src long, dst long"
    )
    out = random_walks(edges, walk_length=3)
    rows = {(r.start, r.step): r.node for r in out.collect()}
    assert rows[(0, 0)] == 0 and rows[(0, 1)] == 1
    assert rows[(0, 2)] == 2 and rows[(0, 3)] == 0
    assert rows[(1, 1)] == 2 and rows[(2, 1)] == 0
    # dangling: node 6 has no out-edges -> walk from 5 stops at step 1
    assert rows[(5, 1)] == 6
    assert (5, 2) not in rows
    # walks start only from out-degree-positive nodes
    assert {s for s, _ in rows} == {0, 1, 2, 5}


def test_random_walks_deterministic_and_valid_edges(spark):
    from metadata_etl_framework_spark.ops.graph import random_walks

    edges = spark.createDataFrame(
        [(s, d) for s in range(20) for d in range(20) if (s + d) % 3 == 0
         and s != d],
        "src long, dst long",
    )
    a = sorted(map(tuple, random_walks(edges, walk_length=4).collect()))
    b = sorted(map(tuple, random_walks(edges, walk_length=4).collect()))
    assert a == b and len(a) > 0
    # a different seed diverges somewhere
    c = sorted(
        map(tuple, random_walks(edges, walk_length=4, seed=2).collect())
    )
    assert c != a
    # every consecutive (node, next) pair is a real edge
    eset = {(s, d) for s in range(20) for d in range(20)
            if (s + d) % 3 == 0 and s != d}
    byw = {}
    for start, step, node in a:
        byw.setdefault(start, {})[step] = node
    for start, path in byw.items():
        for t in range(1, max(path) + 1):
            assert (path[t - 1], path[t]) in eset


def test_random_walks_gates(spark):
    import pytest as _pt

    from metadata_etl_framework_spark.ops.graph import random_walks

    edges = spark.createDataFrame([(-1, 2)], "src long, dst long")
    with _pt.raises(ValueError, match="negative"):
        random_walks(edges, walk_length=2)
    ok = spark.createDataFrame([(0, 1)], "src long, dst long")
    with _pt.raises(ValueError, match="walk_length"):
        random_walks(ok, walk_length=0)


def test_walk_cooccurrence_counts_and_pmi(spark):
    import math

    from metadata_etl_framework_spark.ops.graph import walk_cooccurrence

    # one walk 0: [1, 2, 3]; window=1 -> pairs (1,2), (2,3)
    walks = spark.createDataFrame(
        [(0, 0, 1), (0, 1, 2), (0, 2, 3)],
        "start long, step int, node long",
    )
    out = {(r.node_a, r.node_b): r for r in
           walk_cooccurrence(walks, window=1).collect()}
    assert set(out) == {(1, 2), (2, 3)}
    assert all(r.n_cooc == 1 for r in out.values())
    # T=2; c_1=1, c_2=2, c_3=1: pmi(1,2) = ln((1/2)/((1/4)*(2/4)))
    assert out[(1, 2)].pmi == round(math.log((1 / 2) / ((1 / 4) * (2 / 4))), 6)
    # window=2 adds (1,3)
    out2 = {(r.node_a, r.node_b) for r in
            walk_cooccurrence(walks, window=2).collect()}
    assert out2 == {(1, 2), (2, 3), (1, 3)}


def test_walk_cooccurrence_window_gate(spark):
    import pytest as _pt

    from metadata_etl_framework_spark.ops.graph import walk_cooccurrence

    walks = spark.createDataFrame(
        [(0, 0, 1)], "start long, step int, node long"
    )
    with _pt.raises(ValueError, match="window"):
        walk_cooccurrence(walks, window=0)


def test_walk_pmi_als_driver_arms_match_distributed(spark, monkeypatch):
    """The r16 gated driver fast paths (random_walks adjacency sim,
    walk_cooccurrence band counting, als_factorize half-rounds, and the
    in-process array handoffs between them) must return BIT-IDENTICAL
    rows to the distributed arms — same hash ladder, band predicate,
    pico rounding, solve order, and HALF_UP rounds — on a random graph
    with dangling nodes, a duplicate-step corpus, and a ratings table
    with negative values."""
    import random

    from metadata_etl_framework_spark.ops.graph import (
        pmi_embeddings,
        random_walks,
        walk_cooccurrence,
    )
    from metadata_etl_framework_spark.ops.recsys import als_factorize

    random.seed(11)
    edges = [
        (random.randrange(60), random.randrange(75)) for _ in range(400)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")

    def rows_of(d):
        return sorted(map(tuple, d.collect()))

    def gate(v):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", v)

    w_drv = random_walks(df, walk_length=5, seed=3)
    c_drv = walk_cooccurrence(w_drv, window=2)  # array handoff path
    e_drv = pmi_embeddings(c_drv, rounds=2, reg=0.1)  # handoff ALS
    gate("0")
    w_dst = random_walks(df, walk_length=5, seed=3)
    c_dst = walk_cooccurrence(w_dst, window=2)
    gate("1")
    c_col = walk_cooccurrence(w_dst, window=2)  # collect path
    e_col = pmi_embeddings(c_dst, rounds=2, reg=0.1)  # gated collect ALS
    assert rows_of(w_drv) == rows_of(w_dst)
    assert rows_of(c_drv) == rows_of(c_dst) == rows_of(c_col)
    assert rows_of(e_drv) == rows_of(e_col)

    # duplicate-step general corpus through both cooc arms
    wdup = spark.createDataFrame(
        [(1, 0, 5), (1, 0, 6), (1, 1, 7), (1, 3, 5),
         (2, 0, 9), (2, 2, 9), (2, 2, 8), (2, 3, 1)],
        "start long, step int, node long",
    )
    # ALS arms on a ratings table with negative ratings + int keys
    rows = [
        (random.randrange(25), random.randrange(20),
         round(random.uniform(-3, 8), 3))
        for _ in range(300)
    ]
    rdf = spark.createDataFrame(rows, "u int, i int, r double")

    def dup_and_als():
        uf, itf = als_factorize(rdf, "u", "i", "r", rounds=2, reg=0.1)
        return (
            rows_of(walk_cooccurrence(wdup, window=2)),
            rows_of(uf),
            rows_of(itf),
        )

    on = dup_and_als()
    gate("0")
    assert dup_and_als() == on


def test_pagerank_driver_arm_matches_distributed(spark, monkeypatch):
    """The r16 gated pagerank driver fast path must return
    BIT-IDENTICAL rows to the distributed loop across every variant:
    weighted, dangling-redistributing, personalized, tol-converging,
    null weights, and string/long node ids."""
    import random

    from metadata_etl_framework_spark.ops.graph import pagerank

    random.seed(17)
    rows = [
        (f"n{random.randrange(50)}", f"n{random.randrange(70)}",
         random.randrange(1, 9))
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "src string, dst string, n long")

    def rows_of(d):
        return sorted(map(tuple, d.collect()))

    cases = [
        dict(iterations=3, weight_col="n", checkpoint_every=3),
        dict(iterations=4, weight_col="n", checkpoint_every=3,
             redistribute_dangling=True),
        dict(iterations=3, weight_col="n", checkpoint_every=3,
             seed_nodes=["n1", "n2", "n3"]),
        dict(iterations=6, checkpoint_every=2, tol=1e-3),
        dict(iterations=5, damping=0.9, weight_col="n",
             checkpoint_every=1, redistribute_dangling=True,
             seed_nodes=["n1", "n5"], tol=1e-4),
    ]
    rows2 = [
        (random.randrange(30), random.randrange(40),
         random.choice([None, 1, 3]))
        for _ in range(250)
    ]
    df2 = spark.createDataFrame(rows2, "src long, dst long, n int")

    def run_all():
        return [rows_of(pagerank(df, **kw)) for kw in cases] + [
            rows_of(
                pagerank(df2, iterations=3, weight_col="n",
                         redistribute_dangling=True)
            )
        ]

    on = run_all()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
    assert run_all() == on


def test_betweenness_eigenvector_labelprop_driver_arms(spark, monkeypatch):
    """r16 gated driver fast paths for betweenness_sampled,
    eigenvector_centrality and label_propagation must return
    BIT-IDENTICAL rows to the distributed arms, including absent
    seeds, weighted string-id graphs, and multi-round propagation."""
    import random

    from metadata_etl_framework_spark.ops.graph import (
        betweenness_sampled,
        eigenvector_centrality,
        label_propagation,
    )

    random.seed(23)

    def rows_of(d):
        return sorted(map(tuple, d.collect()))

    edges = [
        (random.randrange(60), random.randrange(60))
        for _ in range(300)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    wrows = [
        (f"n{random.randrange(40)}", f"n{random.randrange(50)}",
         random.randrange(1, 7))
        for _ in range(300)
    ]
    edf = spark.createDataFrame(wrows, "src string, dst string, n long")

    def run_all():
        return [
            rows_of(betweenness_sampled(df, [0, 5, 11, 999], max_hops=12)),
            rows_of(label_propagation(df, iterations=1)),
            rows_of(label_propagation(df, iterations=4)),
            rows_of(eigenvector_centrality(edf, iterations=3, weight_col="n")),
        ]

    on = run_all()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
    assert run_all() == on
