"""Unit layer mirroring the reference test strategy (SURVEY §5):
operator correctness on small in-memory fixtures with hand-computed
expectations — dirty-data DQ rule counts (FIXTURES.md §6), watermark
state, anomaly ensemble voting, API connector pagination/auth, file
connector round-trips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadata_etl_framework_spark.incremental.watermark import Watermark, WatermarkStore
from metadata_etl_framework_spark.quality.anomaly import ensemble_vote
from metadata_etl_framework_spark.quality.rules import (
    compile_rule,
    evaluate_rules,
    quality_score,
)
from metadata_etl_framework_spark.sources.api_connector import (
    APIConnector,
    extract_data_path,
)
from metadata_etl_framework_spark.sources.file_connector import FileConnector


@pytest.fixture(scope="module")
def dirty_employees(spark):
    """FIXTURES.md §1 employees with §6-style injected errors."""
    rows = [
        # id, first, email,                 age,  salary,   dept
        (1, "Ann",  "ann@example.com",      30,   50000.0,  "IT"),
        (2, "Bob",  "bob@example.com",      17,   50000.0,  "HR"),        # age < 18
        (3, "Cid",  "not-an-email",         40,   50000.0,  "IT"),        # bad email
        (4, "Dee",  None,                   35,   500000.0, "Finance"),   # null email, salary high
        (5, "Eve",  "eve@example.com",      None, 60000.0,  "Ops"),       # null age, bad dept
        (5, "Eve",  "eve@example.com",      28,   60000.0,  "IT"),        # dup employee_id
    ]
    return spark.createDataFrame(
        rows, "employee_id long, first_name string, email string, age long, "
              "salary double, department string"
    )


def test_dq_rules_exact_counts(spark, dirty_employees):
    rules = [
        {"name": "email_not_null", "type": "not_null", "column": "email"},
        {"name": "email_fmt", "type": "email_format", "column": "email"},
        {"name": "age_range", "type": "value_range", "column": "age",
         "min": 18, "max": 65},
        {"name": "salary_range", "type": "value_range", "column": "salary",
         "min": 30000, "max": 200000},
        {"name": "dept_allowed", "type": "allowed_values", "column": "department",
         "allowed_values": ["HR", "IT", "Finance", "Marketing"]},
        {"name": "pk", "type": "primary_key_unique", "column": "employee_id"},
    ]
    results = {r.rule_name: r for r in evaluate_rules(dirty_employees, rules)}
    assert results["email_not_null"].failed_rows == 1
    assert results["email_fmt"].failed_rows == 1          # null email not counted
    assert results["age_range"].failed_rows == 1          # null age not counted
    assert results["salary_range"].failed_rows == 1
    assert results["dept_allowed"].failed_rows == 1
    assert results["pk"].failed_rows == 2                 # both dup-group members
    assert all(not r.passed for r in results.values())
    score = quality_score(list(results.values()))
    assert score == 0.0
    # thresholds: 80% pass rate lets single-failure rules pass (5/6 rows ok)
    relaxed = [dict(r, threshold=80.0) for r in rules]
    relaxed_results = evaluate_rules(dirty_employees, relaxed)
    assert sum(1 for r in relaxed_results if r.passed) == 5


def test_dq_rule_samples(spark, dirty_employees):
    rules = [{"name": "email_fmt", "type": "email_format", "column": "email"}]
    res = evaluate_rules(dirty_employees, rules, sample_failures=5)[0]
    assert len(res.samples) == 1 and res.samples[0]["email"] == "not-an-email"


def test_compile_rule_expression(spark, dirty_employees):
    mask = compile_rule({"type": "expression", "expression": "salary < 100000"})
    failed = dirty_employees.filter(mask).count()
    assert failed == 1  # only the 500k salary violates salary<100000


def test_watermark_store_and_incremental_filter(spark, tmp_path):
    store = WatermarkStore(str(tmp_path / "wm"))
    assert store.get("p1", "orders") is None
    store.update(Watermark("p1", "orders", "ts", "2024-01-10"))
    store.update(Watermark("p1", "orders", "ts", "2024-01-15"))
    assert store.get("p1", "orders").value == "2024-01-15"
    assert len(store.history("p1", "orders")) == 2

    df = spark.createDataFrame(
        [("2024-01-10",), ("2024-01-14",), ("2024-01-16",), ("2024-01-20",)],
        "ts string",
    )
    out = store.incremental_filter(df, "p1", "orders", "ts")
    assert {r.ts for r in out.collect()} == {"2024-01-16", "2024-01-20"}
    store.reset("p1", "orders")
    assert store.get("p1", "orders") is None
    # no watermark → full scan
    assert store.incremental_filter(df, "p1", "orders", "ts").count() == 4


def test_ensemble_vote_majority(spark):
    d1 = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    d2 = spark.createDataFrame([(2,), (3,)], "k long")
    d3 = spark.createDataFrame([(3,), (4,)], "k long")
    out = ensemble_vote([d1, d2, d3], "k")  # majority = 2 votes
    got = {r.k: r.votes for r in out.collect()}
    assert got == {2: 2, 3: 3}


def test_api_connector_offset_pagination_and_auth(spark):
    pages = {
        0: {"data": {"items": [{"id": 1}, {"id": 2}]}},
        2: {"data": {"items": [{"id": 3}]}},  # short page → stop
    }
    calls = []

    def transport(method, url, params=None, headers=None, **kw):
        calls.append((method, dict(params), dict(headers)))
        return pages.get(params.get("offset", 0), {"data": {"items": []}})

    conn = APIConnector(
        spark,
        {"auth": {"type": "bearer", "token": "tok"}},
        transport=transport,
    )
    df = conn.read(
        "http://api/items",
        data_path="data.items",
        pagination={"type": "offset", "page_size": 2},
    )
    assert sorted(r.id for r in df.collect()) == [1, 2, 3]
    assert all(h["Authorization"] == "Bearer tok" for _, _, h in calls)
    assert calls[0][1]["limit"] == 2


def test_api_connector_cursor_pagination(spark):
    payloads = [
        {"items": [{"id": 1}], "next_cursor": "c2"},
        {"items": [{"id": 2}], "next_cursor": None},
    ]
    it = iter(payloads)

    def transport(method, url, **kw):
        return next(it)

    conn = APIConnector(spark, {}, transport=transport)
    df = conn.read("http://api", data_path="items", pagination={"type": "cursor"})
    assert sorted(r.id for r in df.collect()) == [1, 2]


def test_extract_data_path():
    assert extract_data_path({"a": {"b": [{"x": 1}]}}, "a.b") == [{"x": 1}]
    assert extract_data_path({"a": 1}, "a.b") == []
    assert extract_data_path([{"x": 1}], None) == [{"x": 1}]
    assert extract_data_path({"x": 1}, None) == [{"x": 1}]


def test_file_connector_roundtrip(spark, tmp_path):
    fc = FileConnector(spark)
    df = spark.range(100).withColumn("val", F.col("id") * 2)
    for fmt in ["parquet", "csv", "json", "orc"]:
        path = str(tmp_path / fmt)
        fc.write(df, path, fmt=fmt)
        back = fc.read(path, fmt=fmt)
        assert back.count() == 100
        assert {r.val for r in back.collect()} == {i * 2 for i in range(100)}
    schema = fc.get_schema(str(tmp_path / "parquet"))
    assert set(schema["columns"]) == {"id", "val"}


def test_salted_join_matches_plain_join(spark):
    """Salted join must be row-identical to the plain join — inner and
    left, including unmatched left rows, under a skewed key distribution."""
    from metadata_etl_framework_spark.functions import salted_join

    skewed = spark.createDataFrame(
        [(1, f"v{i}") for i in range(500)]      # hot key 1
        + [(2, "x"), (3, "y"), (9, "orphan")],  # 9 has no match
        "k long, payload string",
    )
    dim = spark.createDataFrame([(1, "one"), (2, "two"), (3, "three")], "k long, name string")

    for how in ("inner", "left"):
        plain = skewed.join(dim, ["k"], how).orderBy("k", "payload")
        salted = salted_join(skewed, dim, ["k"], how, buckets=4).orderBy("k", "payload")
        assert [tuple(r) for r in plain.collect()] == [tuple(r) for r in salted.collect()]
    with pytest.raises(ValueError):
        salted_join(skewed, dim, ["k"], "full_outer")


def test_quarantine_rows(spark, tmp_path):
    from metadata_etl_framework_spark.utils.error_recovery import quarantine_rows

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, 7.0), (4, -1.0)], "id long, amount double"
    )
    qpath = str(tmp_path / "quarantine")
    clean, n_bad = quarantine_rows(df, F.col("amount") < 0, qpath, run_id=7)
    assert n_bad == 2
    assert {r.id for r in clean.collect()} == {1, 3}
    q = spark.read.parquet(qpath)
    assert {r.id for r in q.collect()} == {2, 4}
    assert q.columns[-1] == "_quarantine_run_id"


def test_lossy_conversions_coerce_under_ansi(spark):
    """ANSI mode is on in Spark 4: the coercing converters must null-out
    malformed values instead of raising (reference errors='coerce')."""
    from metadata_etl_framework_spark.functions import (
        convert_to_datetime,
        convert_to_numeric,
    )

    df = spark.createDataFrame(
        [("1.5", "2024-01-01"), ("abc", "not-a-date"), ("2", "2024-06-15")],
        "v string, d string",
    )
    out = convert_to_datetime(convert_to_numeric(df, "v"), "d", "yyyy-MM-dd")
    rows = {r.v: r.d for r in out.collect()}
    assert rows[1.5] is not None and rows[2.0] is not None
    assert None in rows and rows[None] is None


def test_ivf_ann_recall_vs_brute_force(spark):
    """IVF (KMeans-partitioned ANN) must run distributed and reach
    reasonable recall vs exact top-k; full probe = exact result."""
    from metadata_etl_framework_spark.ops.similarity import (
        brute_force_topk,
        ivf_build,
        ivf_topk,
    )
    from metadata_etl_framework_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qvec = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    assigned, centroids = ivf_build(emb, n_clusters=8)
    assert assigned.select("_cluster").distinct().count() <= 8

    exact = [r.vec_id for r in brute_force_topk(emb, qvec, k=10).collect()]
    approx = [r.vec_id for r in
              ivf_topk(assigned, centroids, qvec, k=10, nprobe=3).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"recall {recall} too low for nprobe=3"
    # probing every cluster is exhaustive → identical to exact search
    full = [r.vec_id for r in
            ivf_topk(assigned, centroids, qvec, k=10, nprobe=8).collect()]
    assert full == exact


def test_apply_custom_and_row_wise_functions(spark):
    from metadata_etl_framework_spark.functions import (
        apply_custom_function,
        apply_row_wise_function,
    )

    df = spark.createDataFrame([(1, 10.0, 2.0), (2, 20.0, 4.0)], "id long, a double, b double")
    out = apply_custom_function(df, "a", lambda v: v * 2, "double")
    assert {r.a_transformed for r in out.collect()} == {20.0, 40.0}
    # vectorized path: fn gets the whole Series
    out_v = apply_custom_function(df, "a", lambda s: s + 1, "double", vectorized=True)
    assert {r.a_transformed for r in out_v.collect()} == {11.0, 21.0}
    rw = apply_row_wise_function(
        df, lambda r: r["a"] / r["b"], "double", output_col="ratio",
        columns=["a", "b"],
    )
    assert {r.ratio for r in rw.collect()} == {5.0}


def test_validate_completeness(spark):
    from metadata_etl_framework_spark.incremental.merge import validate_completeness

    df = spark.range(95)
    assert not validate_completeness(df, 100)["passed"]
    ok = validate_completeness(df, 100, tolerance_pct=10.0)
    assert ok["passed"] and ok["deviation_pct"] == pytest.approx(-5.0)


def test_positional_value_first_last_nth(spark):
    from metadata_etl_framework_spark.functions.windows import (
        positional_value,
    )

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("b", 1, 5.0)],
        "k string, seq int, v double",
    )
    out = positional_value(df, "v", ["k"], ["seq"], method="first",
                           output_col="f")
    out = positional_value(out, "v", ["k"], ["seq"], method="last",
                           output_col="l")
    out = positional_value(out, "v", ["k"], ["seq"], method="nth", n=2,
                           output_col="n2")
    rows = {(r.k, r.seq): (r.f, r.l, r.n2) for r in out.collect()}
    # last is the FULL-frame last (30.0 for every 'a' row), not current row
    assert rows[("a", 1)] == (10.0, 30.0, 20.0)
    assert rows[("a", 3)] == (10.0, 30.0, 20.0)
    assert rows[("b", 1)] == (5.0, 5.0, None)  # nth beyond partition → NULL
    import pytest as _pt
    with _pt.raises(ValueError):
        positional_value(df, "v", ["k"], ["seq"], method="median")


def test_group_concat_sorted_and_distinct(spark):
    from metadata_etl_framework_spark.functions.aggregations import (
        group_concat,
    )

    df = spark.createDataFrame(
        [("a", 3), ("a", 1), ("a", 3), ("b", 2)], "k string, v int"
    )
    out = {r.k: r.concat_values
           for r in group_concat(df, ["k"], "v").collect()}
    assert out == {"a": "1,3,3", "b": "2"}
    out_d = {r.k: r.concat_values
             for r in group_concat(df, ["k"], "v", distinct=True).collect()}
    assert out_d == {"a": "1,3", "b": "2"}


def test_group_mode_deterministic_ties(spark):
    from metadata_etl_framework_spark.functions.aggregations import group_mode

    df = spark.createDataFrame(
        [("g", 5.0), ("g", 5.0), ("g", 2.0), ("g", 2.0), ("g", 9.0),
         ("h", None), ("h", None), ("h", 1.0)],
        "k string, v double",
    )
    out = {r.k: (r.mode, r.mode_count) for r in
           group_mode(df, ["k"], "v").collect()}
    assert out["g"] == (2.0, 2)     # tie at count 2 -> smallest value
    # NULL is a level: the NULL pair (count 2) beats the non-null
    # singleton; within equal counts NULLs would sort last
    assert out["h"][1] == 2 and out["h"][0] is None


def test_pq_encode_and_adc_exact_on_centroid_lattice(spark):
    """Round-7 PQ: with hand-built codebooks and a corpus whose vectors
    ARE centroid concatenations, encode must recover the exact code per
    subspace and ADC distance equals the true squared L2 — the
    closed-form correctness pin for the compression path."""
    from metadata_etl_framework_spark.ops.similarity import (
        pq_adc_topk,
        pq_encode,
    )

    # 2 subspaces x 2 codes, sub-dim 2
    books = [
        [[0.0, 0.0], [10.0, 10.0]],
        [[0.0, 5.0], [5.0, 0.0]],
    ]
    rows = []
    vid = 0
    for c0 in (0, 1):
        for c1 in (0, 1):
            rows.append((vid, books[0][c0] + books[1][c1], c0, c1))
            vid += 1
    df = spark.createDataFrame(
        [(i, v) for i, v, _, _ in rows], "vec_id long, embedding array<float>"
    )
    enc = {r.vec_id: list(r.pq_codes) for r in pq_encode(df, books).collect()}
    for i, _, c0, c1 in rows:
        assert enc[i] == [c0, c1], (i, enc[i])

    # query = vector 3's exact position: ADC dist 0 to it, exact L2 to rest
    q = books[0][1] + books[1][1]
    top = pq_adc_topk(pq_encode(df, books), books, q, k=4).collect()
    assert top[0].vec_id == 3 and top[0].adc_dist == 0.0
    want = {
        0: 200.0 + 50.0,  # both subspaces wrong
        1: 200.0,         # first wrong
        2: 50.0,          # second wrong
    }
    got = {r.vec_id: r.adc_dist for r in top}
    for k_, v in want.items():
        assert got[k_] == v


def test_pq_train_shapes_and_recall_on_clustered_corpus(spark):
    """Trained PQ on cluster-structured vectors: codebook shapes are
    (m, n_codes, d/m), and ADC top-10 recovers most of the exact
    squared-L2 top-10."""
    from metadata_etl_framework_spark.ops.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    # 240 vectors in 12 deterministic clusters, d=8 (no RNG: arithmetic)
    rows = []
    for i in range(240):
        c = i % 12
        base = [float((c * 7 + j * 3) % 11) for j in range(8)]
        jitter = [((i * 13 + j) % 5) * 0.01 for j in range(8)]
        rows.append((i, [b + e for b, e in zip(base, jitter)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = pq_train(df, m=4, n_codes=12)
    assert len(books) == 4 and all(len(b) == 12 for b in books)
    assert all(len(c) == 2 for b in books for c in b)

    q = rows[5][1]
    adc = {r.vec_id for r in pq_adc_topk(pq_encode(df, books), books, q, k=10).collect()}
    # exact squared-L2 top-10
    qcol = F.array(*[F.lit(float(v)) for v in q])
    d2 = F.aggregate(
        F.zip_with("embedding", qcol, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact = {
        r.vec_id
        for r in df.select("vec_id", d2.alias("d2"))
        .orderBy("d2", "vec_id").limit(10).collect()
    }
    assert len(adc & exact) >= 6, (adc, exact)

    import pytest as _pt
    with _pt.raises(ValueError, match="not divisible"):
        pq_train(df, m=3)


def test_ivf_pq_topk_combines_probe_and_adc(spark, tmp_path):
    """IVF-PQ: results equal ADC scoring restricted to the probed
    clusters, and the persisted-index path (partitioned parquet) serves
    the same answer."""
    from metadata_etl_framework_spark.ops.similarity import (
        ivf_build,
        ivf_load,
        ivf_pq_topk,
        ivf_save,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    from metadata_etl_framework_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    assigned, cents = ivf_build(emb, n_clusters=8)
    books = pq_train(emb, m=4, n_codes=8)
    enc = pq_encode(assigned, books)
    q = [float(v) for v in emb.first().embedding]

    got = ivf_pq_topk(enc, cents, books, q, k=5, nprobe=3).collect()
    # reference: ADC over exactly the probed clusters
    import math
    probe = sorted(
        range(len(cents)),
        key=lambda i: math.sqrt(sum((a - b) ** 2 for a, b in zip(cents[i], q))),
    )[:3]
    want = pq_adc_topk(
        enc.filter(F.col("_cluster").isin(probe)), books, q, k=5
    ).collect()
    assert [(r.vec_id, r.adc_dist) for r in got] == [
        (r.vec_id, r.adc_dist) for r in want
    ]
    assert len(got) == 5

    # persisted index round-trip serves the same result
    path = str(tmp_path / "ivfpq")
    ivf_save(enc, cents, path)
    loaded, cents2 = ivf_load(spark, path)
    again = ivf_pq_topk(loaded, cents2, books, q, k=5, nprobe=3).collect()
    assert [(r.vec_id, r.adc_dist) for r in again] == [
        (r.vec_id, r.adc_dist) for r in got
    ]


def test_pq_train_sample_rows_gate(spark):
    """Round-8: pq_train's scale gate. At or under the gate the sample
    filter must not engage (codebooks bit-identical to full-corpus
    training); over the gate the md5-uniform sample is deterministic, so
    two runs agree with each other."""
    from metadata_etl_framework_spark.ops.similarity import pq_train

    rows = []
    for i in range(300):
        c = i % 10
        base = [float((c * 5 + j * 3) % 13) for j in range(8)]
        jitter = [((i * 7 + j) % 4) * 0.01 for j in range(8)]
        rows.append((i, [b + e for b, e in zip(base, jitter)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    full = pq_train(df, m=2, n_codes=6, sample_rows=None)
    under_gate = pq_train(df, m=2, n_codes=6, sample_rows=1_000)
    assert under_gate == full  # n(300) <= gate: filter must not engage

    s1 = pq_train(df, m=2, n_codes=6, sample_rows=150)
    s2 = pq_train(df, m=2, n_codes=6, sample_rows=150)
    assert s1 == s2  # deterministic sample -> reproducible codebooks
    assert len(s1) == 2 and all(len(b) == 6 for b in s1)
    assert all(len(c) == 4 for b in s1 for c in b)


def test_ivf_assign_matches_driver_argmin(spark):
    """Round-8: ivf_assign (pure-JVM nearest-centroid projection) must
    reproduce the driver-side argmin exactly, with equidistant ties
    going to the lowest cluster id."""
    from metadata_etl_framework_spark.ops.similarity import ivf_assign

    cents = [[0.0, 0.0], [4.0, 0.0], [0.0, 4.0]]
    rows = [
        (0, [0.1, 0.2]),   # -> 0
        (1, [3.9, 0.1]),   # -> 1
        (2, [0.3, 3.8]),   # -> 2
        (3, [2.0, 0.0]),   # equidistant 0/1 -> 0 (lowest id)
        (4, [2.0, 2.0]),   # equidistant to all three -> 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r._cluster for r in ivf_assign(df, cents).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 0, 4: 0}


def test_pagerank_cycle_invariant_and_asymmetric(spark):
    """Round-8 graph op: on a symmetric 2-cycle the uniform distribution
    is a fixed point at any damping; on an asymmetric graph the ranks
    must match a pure-Python replication of the damped update (dangling
    node keeps the teleport-only rank)."""
    from metadata_etl_framework_spark.ops.graph import pagerank

    cyc = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0)], "src string, dst string, w double"
    )
    out = {r.node: r.rank for r in pagerank(cyc, iterations=4, weight_col="w").collect()}
    assert out == {"a": 0.5, "b": 0.5}

    edges = [("a", "b", 1.0), ("a", "c", 1.0), ("b", "a", 2.0)]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {r.node: r.rank for r in pagerank(df, iterations=3, weight_col="w").collect()}

    # driver-side replication of the exact same arithmetic
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n, d = len(nodes), 0.85
    ow = {}
    for s, _, w in edges:
        ow[s] = ow.get(s, 0.0) + w
    r = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        contrib = {}
        for s, t, w in edges:
            contrib[t] = contrib.get(t, 0.0) + r[s] * w / ow[s]
        r = {v: (1.0 - d) / n + d * contrib.get(v, 0.0) for v in nodes}
    want = {v: round(r[v], 6) for v in nodes}
    assert got == want


def test_fuzzy_join_blocked_blocks_and_dedups(spark):
    """Round-8 ER op: pairs only form inside a block (cross-block exact
    matches are invisible — that is the scale contract), distances obey
    the threshold, and the self-join emits each undirected pair once."""
    from metadata_etl_framework_spark.functions.joins import (
        fuzzy_join_blocked,
    )

    df = spark.createDataFrame(
        [(1, "B1", "smith"), (2, "B1", "smyth"), (3, "B1", "jones"),
         (4, "B2", "smith"), (5, "B2", "smithe")],
        "id long, blk string, name string",
    )
    out = fuzzy_join_blocked(
        df, df, ["blk"], "name", "name",
        max_distance=1, left_key="id", right_key="id",
    ).collect()
    pairs = {(r.id_l, r.id_r): r.distance for r in out}
    # smith~smyth (1 sub) in B1; smith~smithe (1 ins) in B2;
    # NOT 1~4 (identical names, different blocks), NOT jones~anything
    assert pairs == {(1, 2): 1, (4, 5): 1}


def test_embed_decontaminate_gate_and_values(spark):
    """Round-8: the eval-side broadcast gate refuses oversized sets, and
    the per-row (max, count, nearest-id tie-break) matches hand math on
    unit vectors."""
    import pytest as _pt

    from metadata_etl_framework_spark.ops.similarity import (
        embed_decontaminate,
    )

    ev = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]),   # cos 1.0 to eval 0 AND 1 -> nearest = 0
         (11, [1.0, 1.0]),   # cos ~0.7071 to all three
         (12, [-1.0, 0.0])], # negative cos to 0/1, 0 to 2 -> no match
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: (r.max_cosine, r.n_matches, r.nearest_eval_id)
           for r in embed_decontaminate(corpus, ev, threshold=0.5).collect()}
    assert out[10] == (1.0, 2, 0)
    assert out[11][1] == 3 and abs(out[11][0] - 0.707107) < 1e-6
    assert out[11][2] == 0
    assert 12 not in out

    with _pt.raises(ValueError, match="broadcast_max_rows"):
        embed_decontaminate(corpus, ev, broadcast_max_rows=2)


def test_corr_matrix_matches_builtin_pairwise(spark):
    """Round-8: corr_matrix's decimal-sum formulation must agree with
    Spark's own F.corr per pair (which also pairwise-deletes nulls) to
    the 6dp output precision, including on a column with nulls."""
    from metadata_etl_framework_spark.functions.aggregations import (
        corr_matrix,
    )

    rows = [
        (float(i), float(i * 2 + (i % 3)), None if i % 4 == 0 else float(9 - i))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = {(r.col_x, r.col_y): (r.corr, r.n_pairs)
           for r in corr_matrix(df, ["x", "y", "z"]).collect()}
    exact = {(r.col_x, r.col_y): (r.corr, r.n_pairs)
             for r in corr_matrix(df, ["x", "y", "z"], method="exact").collect()}
    assert got == exact  # both arms agree at output precision
    for a, b in [("x", "y"), ("x", "z"), ("y", "z")]:
        want = df.agg(F.round(F.corr(a, b), 6)).first()[0]
        assert abs(got[(a, b)][0] - want) <= 1e-6, (a, b, got[(a, b)], want)
    assert got[("x", "y")][1] == 20 and got[("x", "z")][1] == 15


def test_ntile_assign_matches_window_ntile(spark):
    """Round-8: ntile_assign's closed form must reproduce the NTILE
    window bit-for-bit, including n < k and n % k != 0."""
    from pyspark.sql import Window

    from metadata_etl_framework_spark.functions.aggregations import (
        ntile_assign,
    )

    for n, k in [(10, 3), (2, 5), (16, 4), (7, 7)]:
        df = spark.createDataFrame(
            [(i, float((i * 7) % n)) for i in range(n)], "id long, v double"
        )
        got = {r.id: r.bucket
               for r in ntile_assign(df, ["v", "id"], k).collect()}
        want = {r.id: r.nt for r in df.select(
            "id", F.ntile(k).over(Window.orderBy("v", "id")).alias("nt")
        ).collect()}
        assert got == want, (n, k)


def test_mutual_information_independent_and_dependent(spark):
    """Round-8: MI is 0 for independent columns and ln(k) for a
    bijective dependency over k uniform levels."""
    import math

    from metadata_etl_framework_spark.functions.aggregations import (
        mutual_information,
    )

    indep = spark.createDataFrame(
        [(a, b) for a in "pq" for b in "xy" for _ in range(5)],
        "a string, b string",
    )
    r = mutual_information(indep, "a", "b").first()
    assert r.mi == 0.0 and r.n_cells == 4 and r.n_rows == 20

    dep = spark.createDataFrame(
        [(c, c.upper()) for c in "abcd" for _ in range(3)],
        "a string, b string",
    )
    r = mutual_information(dep, "a", "b").first()
    assert abs(r.mi - math.log(4)) < 1e-5 and r.n_cells == 4


def test_groupwise_ols_exact_line_and_degenerate(spark):
    """Round-8: per-group OLS recovers an exact line (slope/intercept/
    r²=1) and returns NULLs for degenerate groups (n<2 or zero
    x-variance)."""
    from metadata_etl_framework_spark.functions.aggregations import (
        groupwise_ols,
    )

    rows = [("line", float(x), 2.0 * x + 1.0) for x in range(10)]
    rows += [("flat", 5.0, float(v)) for v in range(4)]   # zero x-var
    rows += [("single", 1.0, 2.0)]                        # n = 1
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r.g: r for r in groupwise_ols(df, ["g"], "x", "y").collect()}
    assert (out["line"].slope, out["line"].intercept, out["line"].r2) == (
        2.0, 1.0, 1.0
    )
    assert out["flat"].slope is None and out["single"].slope is None


def test_seasonal_profile_dow_effects(spark):
    """Round-8: per-weekday means and effects vs grand mean; count-
    weighted effects sum to 0."""
    import datetime as dt

    from metadata_etl_framework_spark.functions.aggregations import (
        seasonal_profile,
    )

    # 2024-01-01 is a Monday (Spark dayofweek = 2)
    rows = [
        (dt.datetime(2024, 1, 1 + d, 12), float(10 * (d % 7) + r))
        for d in range(14)
        for r in range(3)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = seasonal_profile(df, "ts", "value", "dow").collect()
    assert [r.season for r in out] == [1, 2, 3, 4, 5, 6, 7]
    mon = next(r for r in out if r.season == 2)
    assert mon.n == 6 and mon.mean == 1.0  # d=0,7 -> values 0,1,2
    weighted = sum(r.effect * r.n for r in out)
    assert abs(weighted) < 1e-3


def test_changepoint_mean_shift_recovers_split(spark):
    """Round-8: a clean level shift is recovered exactly — split at the
    boundary, segment means exact; a constant series yields stat 0."""
    from metadata_etl_framework_spark.quality.anomaly import (
        changepoint_mean_shift,
    )

    rows = [(i, 0.0 if i < 50 else 10.0) for i in range(100)]
    df = spark.createDataFrame(rows, "t long, v double")
    r = changepoint_mean_shift(df, ["t"], "v").first()
    assert (r.split_after, r.mean_before, r.mean_after, r.n) == (
        50, 0.0, 10.0, 100
    )
    # constant series: every split has stat 0; tie-break picks t=1
    flat = spark.createDataFrame([(i, 3.5) for i in range(40)], "t long, v double")
    r2 = changepoint_mean_shift(flat, ["t"], "v").first()
    assert r2.stat == 0.0 and r2.split_after == 1


def test_versioned_write_read_rollback(spark, tmp_path):
    """Round-8 layout: versioned parquet writes — immutable v=N
    directories, manifest-resolved current version, O(1) rollback, and
    pinned time-travel reads."""
    import pytest as _pt

    from metadata_etl_framework_spark.ops.layout import (
        current_version,
        list_versions,
        read_version,
        rollback_version,
        versioned_write,
    )

    path = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    assert versioned_write(df1, path) == 1
    assert versioned_write(df2, path) == 2
    assert current_version(spark, path) == 2
    assert read_version(spark, path).count() == 1        # serves v2
    assert read_version(spark, path, 1).count() == 2     # pinned v1

    assert rollback_version(spark, path, 1) == 1
    assert current_version(spark, path) == 1
    assert read_version(spark, path).count() == 2        # back to v1
    # data is immutable: v2 still readable by pin after rollback
    assert read_version(spark, path, 2).count() == 1
    # the audit trail records both writes and the rollback in order
    log = [(r.action, r.version) for r in list_versions(spark, path).collect()]
    assert log == [("write", 1), ("write", 2), ("rollback", 1)]
    # a write AFTER rollback allocates v3 (never reuses v2)
    assert versioned_write(df2, path) == 3
    with _pt.raises(ValueError, match="unknown version"):
        rollback_version(spark, path, 99)


def test_point_in_time_join_no_leak_no_zombie(spark):
    """Round-8: the two PIT guarantees — a fact before any version gets
    NULL (no future leakage), and a fact after the matched version's
    end gets NULL (no expired version served)."""
    from metadata_etl_framework_spark.functions.joins import (
        point_in_time_join,
    )

    dim = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-02-01 00:00:00", 10.0),
         (1, "2024-02-01 00:00:00", "2024-03-01 00:00:00", 20.0)],
        "k long, vstart string, vend string, attr double",
    ).select(
        "k",
        F.col("vstart").cast("timestamp").alias("vstart"),
        F.col("vend").cast("timestamp").alias("vend"),
        "attr",
    )
    facts = spark.createDataFrame(
        [(100, 1, "2023-12-15 00:00:00"),   # before any version
         (101, 1, "2024-01-15 00:00:00"),   # inside v1
         (102, 1, "2024-02-01 00:00:00"),   # v1 end == v2 start -> v2
         (103, 1, "2024-06-01 00:00:00")],  # after v2 end -> expired
        "fid long, k long, ts string",
    ).select("fid", "k", F.col("ts").cast("timestamp").alias("ts"))
    out = {r.fid: (r.attr_dim,) for r in point_in_time_join(
        facts, dim, ["k"], "ts", "vstart", "vend"
    ).collect()}
    assert out[100] == (None,)
    assert out[101] == (10.0,)
    assert out[102] == (20.0,)
    assert out[103] == (None,)


def test_hll_sketches_merge_losslessly(spark):
    """Round-8: the mergeable-sketch production pattern — per-partition
    (per-week) HLL sketches unioned with hll_union_agg give the SAME
    estimate as one sketch over the whole data, and the estimate is
    within HLL error of the exact distinct count. This is how approx
    distinct composes incrementally at 100 TB: sketch per partition
    once, merge forever, never rescan."""
    df = spark.createDataFrame(
        [(i % 7, f"user{i % 4321}") for i in range(20_000)],
        "week int, user string",
    )
    direct = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user")).alias("e")
    ).first()["e"]
    merged = (
        df.groupBy("week")
        .agg(F.hll_sketch_agg("user").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .first()["e"]
    )
    assert merged == direct  # union of sketches == sketch of union
    exact = 4321
    assert abs(merged - exact) / exact < 0.05


def test_weighted_quantile_lower_definition(spark):
    """Round-8: weighted quantiles follow the lower definition — the
    smallest value whose cumulative weight reaches q·W."""
    from metadata_etl_framework_spark.functions.aggregations import (
        weighted_quantile,
    )

    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 1.0), (3.0, 8.0), (99.0, 0.0), (None, 5.0)],
        "v double, w double",
    )
    out = {r.p: r.value for r in weighted_quantile(
        df, "v", "w", (0.2, 0.5, 1.0)
    ).collect()}
    assert out == {0.2: 2.0, 0.5: 3.0, 1.0: 3.0}


def test_time_weighted_avg_hand_math(spark):
    """Round-8: TWAP weights each value by its live interval; the last
    observation carries no interval."""
    import datetime as dt

    from metadata_etl_framework_spark.ops.retention import (
        time_weighted_avg,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", 1, t0, 10.0),
        ("a", 2, t0 + dt.timedelta(seconds=30), 20.0),
        ("a", 3, t0 + dt.timedelta(seconds=40), 999.0),  # last: no interval
        ("b", 4, t0, 5.0),  # single observation: no interval, no row
    ]
    df = spark.createDataFrame(
        rows, "g string, event_id long, ts timestamp, value double"
    )
    out = {r.g: (r.twap, r.n_intervals, r.span_s) for r in time_weighted_avg(
        df, ["g"], "ts", "value", "event_id"
    ).collect()}
    assert out == {"a": ((10.0 * 30 + 20.0 * 10) / 40, 2, 40.0)}


def test_ks_significance_extremes(spark):
    """Round-8: KS p-value sanity — identical samples give D=0, p=1;
    disjoint distributions give p ~ 0; p is within [0, 1]."""
    from metadata_etl_framework_spark.quality.drift import ks_significance

    a = spark.createDataFrame(
        [(float(i % 50),) for i in range(500)], "x double"
    )
    same = ks_significance(a, a, "x").first()
    assert same.ks_stat == 0.0 and same.p_value == 1.0

    b = spark.createDataFrame(
        [(float(i % 50) + 1000.0,) for i in range(500)], "x double"
    )
    far = ks_significance(a, b, "x").first()
    assert far.ks_stat == 1.0 and far.p_value == 0.0
    assert 0.0 <= far.p_value <= 1.0 and far["lambda"] > 0


def test_lorenz_curve_hand_math(spark):
    """Round-8: Lorenz points on a hand-computable distribution — equal
    values give the diagonal; one dominant row bends the curve."""
    import pytest as _pt

    from metadata_etl_framework_spark.functions.aggregations import (
        lorenz_curve,
    )

    # distinct uniform masses 10..100: cum share at p is the closed form
    # p'(p'+... ) — e.g. bottom 50% of rows = values 10..50 = 150/550
    lin = spark.createDataFrame(
        [(float(i), float(10 * (i + 1))) for i in range(10)],
        "i double, v double",
    )
    out = {r.p: r.cum_share for r in lorenz_curve(lin, "v", (0.2, 0.5, 1.0)).collect()}
    assert out == {0.2: round(30 / 550, 6), 0.5: round(150 / 550, 6), 1.0: 1.0}

    # value-level granularity: a tie group is indivisible — with ALL
    # rows equal, every p resolves to the single distinct value and the
    # full mass (documented semantics)
    flat = spark.createDataFrame([(float(i), 5.0) for i in range(10)],
                                 "i double, v double")
    out_f = {r.p: r.cum_share for r in lorenz_curve(flat, "v", (0.2,)).collect()}
    assert out_f == {0.2: 1.0}

    skew = spark.createDataFrame(
        [(float(i), 1.0) for i in range(9)] + [(9.0, 91.0)],
        "i double, v double",
    )
    out2 = {r.p: r.cum_share for r in lorenz_curve(skew, "v", (0.9, 1.0)).collect()}
    assert out2 == {0.9: 0.09, 1.0: 1.0}  # bottom 90% holds 9% of mass

    with _pt.raises(ValueError, match="non-negative"):
        lorenz_curve(spark.createDataFrame([(-1.0,)], "v double"), "v")


def test_gini_by_group_matches_global(spark):
    """Round-8: per-group Gini equals the global gini_coefficient when
    computed per slice, and is 0 for a perfectly equal group."""
    from metadata_etl_framework_spark.functions.aggregations import (
        gini_by_group,
        gini_coefficient,
    )

    rows = [("a", float(v)) for v in [1, 1, 1, 1]]
    rows += [("b", float(v)) for v in [1, 2, 3, 10, 20, 5, 7, 1]]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r.g: r.gini for r in gini_by_group(df, ["g"], "v").collect()}
    assert got["a"] == 0.0
    want_b = gini_coefficient(df.where(F.col("g") == "b"), "v").first().gini
    assert got["b"] == want_b


def test_basket_affinity_hand_math(spark):
    """Round-8: lift/support/confidence on a hand-computable basket set;
    multiplicity inside a basket is presence, not double-counting."""
    rows = [
        (1, "x"), (1, "y"), (1, "x"),      # duplicate x collapses
        (2, "x"), (2, "y"),
        (3, "x"), (3, "z"),
        (4, "z"),
    ]
    from metadata_etl_framework_spark.ops.affinity import basket_affinity

    df = spark.createDataFrame(rows, "b long, i string")
    out = {(r.item_a, r.item_b): r for r in basket_affinity(
        df, "b", "i"
    ).collect()}
    xy = out[("x", "y")]
    # n=4 baskets, c_x=3, c_y=2, c_xy=2
    assert xy.n_both == 2 and xy.support == 0.5
    assert xy.conf_a_to_b == round(2 / 3, 6) and xy.conf_b_to_a == 1.0
    assert xy.lift == round(2 * 4 / (3 * 2), 6)
    xz = out[("x", "z")]
    assert xz.n_both == 1 and xz.lift == round(1 * 4 / (3 * 2), 6)


def test_personalized_pagerank_seed_locality(spark):
    """Round-8: PPR concentrates mass near the seed — unreachable nodes
    get rank 0 (no global teleport), the seed keeps the full teleport
    share, and downstream-of-seed outranks upstream-only nodes."""
    from metadata_etl_framework_spark.ops.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0),
         ("x", "y", 1.0)],  # disconnected component
        "src string, dst string, w double",
    )
    out = {r.node: r.rank for r in pagerank(
        edges, iterations=3, weight_col="w", seed_nodes=["a"]
    ).collect()}
    assert out["x"] == 0.0 and out["y"] == 0.0  # unreachable from seed
    assert out["a"] == 0.15                      # teleport share only
    assert out["b"] > out["c"] > 0.0             # mass decays downstream


def test_json_profile_mixed_types(spark):
    """Round-8: json_profile infers per-key presence, fraction and
    majority value type over heterogeneous flat JSON (majority vote,
    lexicographic tie-break; invalid JSON rows excluded from the
    denominator)."""
    from metadata_etl_framework_spark.functions.conversions import (
        json_profile,
    )

    rows = [
        ('{"a": 1, "b": "x"}',),
        ('{"a": 2, "b": "y", "c": 1.5}',),
        ('{"a": "oops", "c": 2.5}',),
        ('{"d": true}',),
        ("not json",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "props string")
    out = {r.key: (r.n_present, r.fraction, r.vtype)
           for r in json_profile(df, "props").collect()}
    assert out["a"] == (3, 0.75, "integer")   # 2 ints beat 1 string
    assert out["b"] == (2, 0.5, "string")
    assert out["c"] == (2, 0.5, "double")
    assert out["d"] == (1, 0.25, "boolean")


def test_evaluate_rules_by_group_segment_counts(spark):
    """Round-8: grouped rule evaluation — per-segment failure counts
    with the same null semantics as the global evaluator (value_range /
    allowed_values skip nulls; not_null counts them)."""
    from metadata_etl_framework_spark.quality.rules import (
        evaluate_rules_by_group,
    )

    df = spark.createDataFrame(
        [("a", "x", 10), ("a", None, 200), ("a", "y", None),
         ("b", "x", 5), ("b", "x", 50)],
        "g string, s string, v long",
    )
    rules = [
        {"name": "s_nn", "type": "not_null", "column": "s"},
        {"name": "v_rng", "type": "value_range", "column": "v",
         "min": 0, "max": 100},
    ]
    out = {(r.g, r.rule_name): (r.failed_rows, r.total_rows, r.pass_rate)
           for r in evaluate_rules_by_group(df, rules, ["g"]).collect()}
    assert out[("a", "s_nn")] == (1, 3, round(2 / 3, 6))
    assert out[("a", "v_rng")] == (1, 3, round(2 / 3, 6))  # null v skipped
    assert out[("b", "s_nn")] == (0, 2, 1.0)
    assert out[("b", "v_rng")] == (0, 2, 1.0)


def test_stickiness_bounds_and_values(spark):
    """Round-8: stickiness = DAU/WAU is 1.0 when every weekly user is
    daily and < 1 otherwise; hand-checkable on a 2-day fixture."""
    import datetime as dt

    from metadata_etl_framework_spark.ops.retention import stickiness_ratio

    d1, d2 = dt.datetime(2024, 1, 1, 9), dt.datetime(2024, 1, 2, 9)
    rows = [(1, d1), (2, d1), (1, d2)]  # user 2 churns on day 2
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r.day: (r.dau, r.wau, r.stickiness)
           for r in stickiness_ratio(df).collect()}
    assert out["2024-01-01"] == (2, 2, 1.0)
    assert out["2024-01-02"] == (1, 2, 0.5)


def test_rfm_orientation_and_determinism(spark):
    """Round-8: the most-recent/most-frequent/highest-spend customer
    gets the top score on each dimension, the worst gets 1, and the
    segment code concatenates R,F,M in order."""
    import datetime as dt

    from metadata_etl_framework_spark.ops.retention import rfm_segments

    base = dt.datetime(2024, 1, 1)
    rows = []
    # customer k: k orders, last order day k, each order worth 100*k
    for k in range(1, 9):
        for i in range(k):
            rows.append((k * 100 + i, k, float(100 * k),
                         base + dt.timedelta(days=k, hours=i)))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, "
              "o_orderdate timestamp",
    )
    out = {r["user"]: r for r in rfm_segments(df).collect()}
    # customer 8: most recent (recency 0), most orders, biggest spend
    assert out[8]["recency_days"] == 0
    assert (out[8]["r_score"], out[8]["f_score"], out[8]["m_score"]) == (4, 4, 4)
    assert out[8]["rfm_segment"] == "444"
    # customer 1: stalest, fewest, smallest
    assert (out[1]["r_score"], out[1]["f_score"], out[1]["m_score"]) == (1, 1, 1)
    # 8 customers over 4 buckets -> every score bucket holds exactly 2
    from collections import Counter
    assert Counter(r["f_score"] for r in out.values()) == {1: 2, 2: 2, 3: 2, 4: 2}


def test_cohort_ltv_cumulative_and_sizes(spark):
    """Round-8: LTV curve accumulates revenue per cohort and divides by
    the acquisition-month cohort size; hand-checked 2-cohort fixture."""
    import datetime as dt

    from metadata_etl_framework_spark.ops.retention import cohort_ltv

    jan, feb, mar = (dt.datetime(2024, m, 15) for m in (1, 2, 3))
    rows = [
        (1, 10, 100.0, jan), (2, 11, 50.0, jan),   # cohort Jan: users 10,11
        (3, 10, 30.0, feb),                        # Jan cohort, offset 1
        (4, 12, 200.0, feb),                       # cohort Feb: user 12
        (5, 12, 40.0, mar),                        # Feb cohort, offset 1
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, "
              "o_orderdate timestamp",
    )
    out = {(r.cohort_month.month, r.month_offset): r
           for r in cohort_ltv(df).collect()}
    jan0, jan1 = out[(1, 0)], out[(1, 1)]
    assert jan0.cohort_size == 2 and jan0.revenue == 150.0
    assert jan1.cum_revenue == 180.0 and jan1.ltv_per_customer == 90.0
    feb1 = out[(2, 1)]
    assert feb1.cohort_size == 1 and feb1.cum_revenue == 240.0


def test_inter_event_gaps_lag_semantics(spark):
    """Round-8: gaps are per-user consecutive deltas grouped under the
    LATER event's type; first events contribute nothing."""
    import datetime as dt

    from metadata_etl_framework_spark.ops.retention import inter_event_gaps

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, "view", t0),
        (2, 1, "click", t0 + dt.timedelta(seconds=10)),
        (3, 1, "purchase", t0 + dt.timedelta(seconds=40)),
        (4, 2, "view", t0),  # sole event of user 2: no gap
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    out = {r.event_type: r for r in inter_event_gaps(df).collect()}
    assert "view" not in out  # both views are first-of-user
    assert out["click"].n_gaps == 1 and out["click"].avg_gap_s == 10.0
    assert out["purchase"].max_gap_s == 30.0


def test_embed_covariance_and_pca_match_numpy(spark):
    """Round-8: distributed centered-Gramian covariance equals
    numpy.cov at 6dp, and the PCA projection equals numpy eigh
    projection (sign-fixed) at 6dp, on a deterministic 40×6 corpus."""
    import numpy as np

    from metadata_etl_framework_spark.ops.similarity import (
        embed_covariance,
        embedding_pca,
    )

    X = np.array(
        [[((i * 7 + j * 13) % 23) * 0.25 + (j + 1) * 0.1 * i
          for j in range(6)] for i in range(40)],
        dtype=np.float64,
    )
    Xf = X.astype(np.float32)  # the column is array<float>
    df = spark.createDataFrame(
        [(i, [float(v) for v in Xf[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    ).repartition(5)

    C = np.cov(Xf.astype(np.float64).T, ddof=1)
    got = {(r.i, r.j): r.cov for r in embed_covariance(df).collect()}
    assert len(got) == 6 * 7 // 2
    for (i, j), v in got.items():
        assert abs(v - round(C[i, j], 6)) <= 1e-6, (i, j, v, C[i, j])

    proj, ratios = embedding_pca(df, k=2)
    vals, vecs = np.linalg.eigh(np.round(C, 6))
    order = np.argsort(vals)[::-1][:2]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append(v)
    mu_free = Xf.astype(np.float64)  # projection is uncentered by design
    expect = mu_free @ np.array(comps).T
    got_p = {r.vec_id: r.pc for r in proj.collect()}
    for i in range(40):
        for c in range(2):
            assert abs(got_p[i][c] - round(expect[i, c], 6)) <= 2e-6
    assert abs(sum(ratios) - sum(round(float(vals[i]) / vals.sum(), 6)
                                 for i in order)) < 1e-9
    assert ratios[0] >= ratios[1] > 0


def test_ngram_lm_perplexity_reference_and_buckets(spark):
    """Round-10 CCNet op: a document made of reference bigrams scores
    far lower perplexity than word salad; bucket cuts assign
    head/tail; <2-token docs emit n_bigrams=0 with NULL scores; and
    the validation guards fire."""
    import pytest as _pt

    from metadata_etl_framework_spark.ops.text import ngram_lm_perplexity

    ref = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat") for i in range(5)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "zq xv qqq zz"), (3, "hi")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_lm_perplexity(
        docs, reference=ref, bucket_cuts=(10.0, 1000.0)
    ).collect()}
    assert out[1].perplexity < out[2].perplexity
    assert out[1].bucket == "head" and out[2].bucket == "tail"
    assert out[3].n_bigrams == 0 and out[3].perplexity is None
    assert out[3].bucket is None

    with _pt.raises(ValueError, match="lam"):
        ngram_lm_perplexity(docs, reference=ref, lam=1.0)
    with _pt.raises(ValueError, match="alpha"):
        ngram_lm_perplexity(docs, reference=ref, alpha=0.0)
    with _pt.raises(ValueError, match="ascending"):
        ngram_lm_perplexity(docs, reference=ref, bucket_cuts=(5.0, 5.0))
    with _pt.raises(ValueError, match="no tokens"):
        ngram_lm_perplexity(
            docs, reference=ref.where("doc_id < 0")
        )


def test_mahalanobis_outliers_match_numpy(spark):
    """Round-10: distributed Mahalanobis md2 equals the direct numpy
    quadratic form (built from the same 6dp-rounded covariance and
    decimal-exact means) at 6dp, flags respect the threshold, and the
    id column keeps its original type."""
    import numpy as np

    from metadata_etl_framework_spark.ops.similarity import (
        mahalanobis_outliers,
    )

    rng_free = [[((i * 11 + j * 5) % 17) * 0.3 + 0.05 * i * (j + 1)
                 for j in range(4)] for i in range(30)]
    X = np.array(rng_free, dtype=np.float32).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(v) for v in np.float32(rng_free[i])]) for i in range(30)],
        "vec_id long, embedding array<float>",
    ).repartition(4)

    mu = X.mean(axis=0)
    C = np.round(np.cov(X.T, ddof=1), 6)  # op consumes the 6dp cov rows
    inv = np.linalg.inv(C + 1e-6 * np.eye(4))
    Y = X - mu
    expect = np.einsum("ij,ij->i", Y @ inv, Y)
    thr = float(np.median(expect))

    out = {r.vec_id: r for r in mahalanobis_outliers(
        df, threshold=thr
    ).collect()}
    assert len(out) == 30
    assert out[0].__fields__ == ["vec_id", "md2", "md", "is_outlier"]
    for i in range(30):
        assert abs(out[i].md2 - round(expect[i], 6)) <= 2e-6, (i,)
        assert abs(out[i].md - round(np.sqrt(max(expect[i], 0.0)), 6)) <= 2e-6
        assert out[i].is_outlier == (out[i].md2 > thr)
    assert isinstance(next(iter(out)), int)


def test_pagerank_tol_early_stop_matches_full_run(spark):
    """Round-10: convergence-based early termination. A symmetric
    2-cycle holds its uniform ranks from iteration one (L1 delta
    exactly 0), so a tight tol must stop at the first checkpoint and
    still equal the long fixed-iteration run; a loose tol on an
    asymmetric graph stops at the first checkpoint, reproducing the
    fixed run of checkpoint_every iterations."""
    from metadata_etl_framework_spark.ops.graph import pagerank

    sym = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0)],
        "src string, dst string, w double",
    )
    full = {r.node: r.rank for r in pagerank(
        sym, iterations=9, weight_col="w", checkpoint_every=3
    ).collect()}
    early = {r.node: r.rank for r in pagerank(
        sym, iterations=9, weight_col="w", checkpoint_every=3, tol=1e-12
    ).collect()}
    assert early == full == {"a": 0.5, "b": 0.5}

    asym = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
         ("a", "c", 2.0)],
        "src string, dst string, w double",
    )
    one_checkpoint = {r.node: r.rank for r in pagerank(
        asym, iterations=9, weight_col="w", checkpoint_every=3,
        tol=1e9,  # absurdly loose: stops at the FIRST checkpoint
    ).collect()}
    three_iters = {r.node: r.rank for r in pagerank(
        asym, iterations=3, weight_col="w", checkpoint_every=3
    ).collect()}
    assert one_checkpoint == three_iters


def test_triangle_census_known_graph(spark):
    # K4 plus a pendant: 4 triangles, 7 edges? K4 has 6 edges + 1
    # pendant = 7; wedges: K4 nodes deg 3 (pendant host deg 4) ->
    # 3*C(3,2) + C(4,2) + pendant C(1,2)=0 -> 3*3 + 6 = 15
    from metadata_etl_framework_spark.ops.graph import triangle_count

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5),
         (2, 1)],  # duplicate reversed edge must collapse
        ["src", "dst"],
    )
    row = triangle_count(edges).collect()[0]
    assert row["n_nodes"] == 5
    assert row["n_edges"] == 7
    assert row["n_triangles"] == 4
    assert row["n_wedges"] == 15
    assert row["transitivity"] == round(12 / 15, 6)


def test_degree_distribution_and_jaccard_known_graph(spark):
    from metadata_etl_framework_spark.ops.graph import (
        degree_distribution,
        neighborhood_jaccard,
    )

    # path 1-2-3 plus 1-4, 3-4: N(1)={2,4}, N(3)={2,4} -> jaccard 1.0
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (3, 4)], ["src", "dst"]
    )
    dist = {r["degree"]: r["n_nodes"] for r in
            degree_distribution(edges).collect()}
    assert dist == {2: 4}
    sims = {(r["node_a"], r["node_b"]): r["jaccard"]
            for r in neighborhood_jaccard(edges).collect()}
    assert sims[(1, 3)] == 1.0
    assert sims[(2, 4)] == 1.0

    # hub cap: dropping degree-2 middles kills every candidate pair
    capped = neighborhood_jaccard(edges, max_degree=1)
    assert capped.count() == 0


def test_acf_table_known_series(spark):
    # strictly periodic series y = [1,0,1,0,...] over 8 hours:
    # ACF(1) = -1 (scaled), ACF(2) = +1-ish on the finite estimator
    from metadata_etl_framework_spark.functions.aggregations import (
        acf_table,
    )

    rows = [(f"2024-01-01 0{h}:00:00", float(h % 2)) for h in range(8)]
    df = spark.createDataFrame(rows, "tss string, value double").select(
        F.to_timestamp("tss").alias("ts"), "value"
    )
    out = {r["lag"]: r for r in
           acf_table(df, "ts", "value", 3600, max_lag=3).collect()}
    # mean .5, den = 8*.25 = 2; lag1: 7 pairs each prod -.25 -> -.875
    assert out[1]["n_pairs"] == 7 and out[1]["acf"] == -0.875
    # lag2: 6 pairs each +.25 -> +.75
    assert out[2]["n_pairs"] == 6 and out[2]["acf"] == 0.75
    assert out[3]["n_pairs"] == 5 and out[3]["acf"] == -0.625

    # constant series -> zero variance -> NULL acf
    const = spark.createDataFrame(rows, "tss string, value double").select(
        F.to_timestamp("tss").alias("ts"), F.lit(2.0).alias("value")
    )
    vals = acf_table(const, "ts", "value", 3600, max_lag=2).collect()
    assert vals and all(r["acf"] is None for r in vals)


def _pav_reference(grid):
    # independent textbook PAV over (score-sorted) [(n, pos)] using
    # Fractions — the oracle for the integer-cross-multiplication pool
    from fractions import Fraction

    vals = [Fraction(pos, n) for n, pos in grid]
    wts = [Fraction(n) for n, _ in grid]
    blocks = [[w, w * v, [i]] for i, (w, v) in enumerate(zip(wts, vals))]
    out = blocks[:1]
    for b in blocks[1:]:
        out.append(b)
        while len(out) >= 2 and out[-2][1] / out[-2][0] > out[-1][1] / out[-1][0]:
            w2, s2, idx = out.pop()
            out[-1][0] += w2
            out[-1][1] += s2
            out[-1][2].extend(idx)
    res = [None] * len(grid)
    for w, sw, idx in out:
        for i in idx:
            res[i] = float(sw / w)
    return res


def test_isotonic_calibration_matches_reference_pav(spark):
    from metadata_etl_framework_spark.ops.evaluation import (
        isotonic_calibration_table,
    )

    # deterministic non-monotone positive rates to force pooling
    rows = []
    for i in range(60):
        s = (i * 17) % 30 / 30.0
        rows.append((s, 1 if (i * 13) % 7 < 3 else 0))
    df = spark.createDataFrame(rows, "s double, y int")
    table = isotonic_calibration_table(df, "s", "y").collect()
    # monotone non-decreasing in score
    ordered = sorted(table, key=lambda r: r["score"])
    assert all(
        a["p_cal"] <= b["p_cal"] for a, b in zip(ordered, ordered[1:])
    )
    # matches the fraction-exact textbook PAV
    import collections

    agg = collections.OrderedDict()
    for s, y in sorted(rows):
        n, p = agg.get(s, (0, 0))
        agg[s] = (n + 1, p + y)
    grid = [agg[k] for k in sorted(agg)]
    ref = _pav_reference(grid)
    for r, exp in zip(ordered, ref):
        assert r["p_cal"] == round(exp, 6)
    # mass preserved: weighted mean of p_cal == overall positive rate
    tot_n = sum(n for n, _ in grid)
    tot_p = sum(p for _, p in grid)
    approx = sum(r["p_cal"] * r["n"] for r in ordered) / tot_n
    assert abs(approx - tot_p / tot_n) < 1e-4


def test_isotonic_apply_step_function(spark):
    from metadata_etl_framework_spark.ops.evaluation import (
        isotonic_apply,
        isotonic_calibration_table,
    )

    train = spark.createDataFrame(
        [(0.1, 0), (0.1, 0), (0.5, 1), (0.5, 0), (0.9, 1), (0.9, 1)],
        "s double, y int",
    )
    table = isotonic_calibration_table(train, "s", "y")
    new = spark.createDataFrame(
        [(0.05,), (0.1,), (0.3,), (0.5,), (0.7,), (0.95,)], "s double"
    )
    got = {r["s"]: r["p_cal"] for r in
           isotonic_apply(new, table, "s").collect()}
    assert got[0.05] == 0.0   # clamp below min
    assert got[0.1] == 0.0
    assert got[0.3] == 0.0    # piecewise-constant-left
    assert got[0.5] == 0.5
    assert got[0.7] == 0.5
    assert got[0.95] == 1.0


def test_isotonic_gate_raises_past_max_distinct(spark):
    import pytest as _pt

    from metadata_etl_framework_spark.ops.evaluation import (
        isotonic_calibration_table,
    )

    df = spark.range(100).select(
        (F.col("id") / 100.0).alias("s"), (F.col("id") % 2).alias("y")
    )
    with _pt.raises(ValueError, match="distinct scores exceed"):
        isotonic_calibration_table(df, "s", "y", max_distinct=50)


def test_target_encode_oof_is_leakage_safe(spark):
    """Flipping every label INSIDE one fold must not change that fold's
    own encodings (they are built from the other folds only), while the
    other folds' encodings move — the definition of out-of-fold."""
    from metadata_etl_framework_spark.ops.features import (
        fold_assign,
        target_encoding_table,
    )

    base = spark.range(400).select(
        F.col("id"),
        F.concat(F.lit("c"), (F.col("id") % 3).cast("string")).alias("cat"),
        ((F.col("id") % 7) < 3).cast("int").alias("y"),
    )
    folds = {r["id"]: r["fold"] for r in
             fold_assign(base, "id", n_folds=4).collect()}
    flip_fold = 1
    flipped = base.withColumn(
        "y",
        F.when(
            F.col("id").isin([k for k, v in folds.items()
                              if v == flip_fold]),
            1 - F.col("y"),
        ).otherwise(F.col("y")),
    )
    t0 = {(r["cat"], r["fold"]): r["te"] for r in target_encoding_table(
        base, "cat", "y", "id", n_folds=4, smoothing=5.0).collect()}
    t1 = {(r["cat"], r["fold"]): r["te"] for r in target_encoding_table(
        flipped, "cat", "y", "id", n_folds=4, smoothing=5.0).collect()}
    assert t0.keys() == t1.keys()
    changed_own = [k for k in t0
                   if k[1] == flip_fold and t0[k] != t1[k]]
    changed_other = [k for k in t0
                     if k[1] != flip_fold and t0[k] != t1[k]]
    assert changed_own == []          # own-fold encodings untouched
    assert len(changed_other) > 0     # other folds see the new labels


def test_hash_features_signed_collisions_and_numeric(spark):
    """Same token always lands in the same signed bucket; numeric
    features carry their value; per-id triples aggregate collisions."""
    from metadata_etl_framework_spark.ops.features import hash_features

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "a", 4.0), (3, "b", None)],
        "id long, c string, x double",
    )
    out = hash_features(
        df, "id", categorical=["c"], numeric=["x"], n_buckets=8
    ).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append((r["bucket"], r["value"]))
    # ids 1 and 2 share category 'a' -> identical categorical triple
    cat1 = [t for t in by_id[1] if abs(abs(t[1]) - 1.0) < 1e-9]
    cat2 = [t for t in by_id[2] if abs(abs(t[1]) - 1.0) < 1e-9]
    assert cat1 and cat1 == cat2
    # id 3 has a NULL numeric -> only its categorical triple survives
    assert len(by_id[3]) == 1
    # numeric values flow through with the sign applied
    vals1 = sorted(abs(v) for _, v in by_id[1])
    assert any(abs(v - 2.5) < 1e-9 for v in vals1)


def test_label_propagation_recovers_ring_of_cliques(spark):
    """5 cliques of 6 bridged in a ring: after 4 deterministic rounds
    every clique collapses onto its smallest member, bridges included."""
    from metadata_etl_framework_spark.ops.graph import label_propagation

    G, S = 5, 6
    edges = []
    for g in range(G):
        base = g * S
        edges += [(base + i, base + j)
                  for i in range(S) for j in range(i + 1, S)]
        edges.append((base + S - 1, ((g + 1) % G) * S))
    e = spark.createDataFrame(edges, "src long, dst long")
    comm = {}
    for r in label_propagation(e, iterations=4).collect():
        comm.setdefault(r["label"], set()).add(r["node"])
    expect = {g * S: set(range(g * S, (g + 1) * S)) for g in range(G)}
    assert comm == expect


def test_k_core_peeling_cascade_and_fixpoint(spark):
    """Clique(6) with a pendant path: the 2-core is exactly the clique
    (the path peels one node per round — the cascade case), and
    re-running on the result is a no-op (fixpoint)."""
    from metadata_etl_framework_spark.ops.graph import k_core

    edges = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    edges += [(5 + i, 6 + i) for i in range(6)]  # path 5-6-...-11
    e = spark.createDataFrame(edges, "src long, dst long")
    core = {(r["node"], r["degree"])
            for r in k_core(e, k=2, max_iter=15).collect()}
    assert core == {(i, 5) for i in range(6)}
    with __import__("pytest").raises(RuntimeError, match="converge"):
        k_core(e, k=2, max_iter=2)


def test_cramers_v_known_tables(spark):
    """Perfect association -> V = 1, chi2 = n; the 2x2 mixed table
    matches the hand-computed observed-cells closed form."""
    from metadata_etl_framework_spark.functions.aggregations import (
        cramers_v_matrix,
    )

    pf = spark.createDataFrame(
        [("a", "x"), ("b", "y")] * 20, "c1 string, c2 string"
    )
    r = cramers_v_matrix(pf, ["c1", "c2"]).collect()[0]
    assert (r["v"], r["chi2"], r["n_rows"]) == (1.0, 40.0, 40)

    mixed = spark.createDataFrame(
        [("a", "x")] * 20 + [("a", "y")] * 10
        + [("b", "y")] * 20 + [("b", "x")] * 10,
        "c1 string, c2 string",
    )
    m = cramers_v_matrix(mixed, ["c1", "c2"]).collect()[0]
    # chi2 = n*(sum o^2/(ra*cb) - 1) = 60*(1000/900 - 1) = 20/3
    assert abs(m["chi2"] - 6.666667) < 1e-6
    assert abs(m["v"] - 0.333333) < 1e-6


def test_forecast_baseline_exact_and_trended_series(spark):
    """An exactly periodic series has zero seasonal error (MASE 0);
    adding +1 per period makes every seasonal error exactly 1."""
    import datetime as dt

    from metadata_etl_framework_spark.functions.aggregations import (
        forecast_baseline_eval,
    )

    base = dt.datetime(2026, 1, 1)
    cyc = [1.0, 5.0, 2.0, 8.0]
    exact = spark.createDataFrame(
        [(base + dt.timedelta(hours=h), cyc[h % 4]) for h in range(48)],
        "ts timestamp, v double",
    )
    r = forecast_baseline_eval(exact, "ts", "v", 3600, season=4).collect()[0]
    assert (r["n_forecasts"], r["mae"], r["mase"]) == (44, 0.0, 0.0)

    trended = spark.createDataFrame(
        [(base + dt.timedelta(hours=h), cyc[h % 4] + h // 4)
         for h in range(48)],
        "ts timestamp, v double",
    )
    t = forecast_baseline_eval(
        trended, "ts", "v", 3600, season=4
    ).collect()[0]
    assert (t["mae"], t["rmse"]) == (1.0, 1.0)
    assert 0 < t["mase"] < 1  # seasonality beats persistence here


def test_rouge_l_matches_textbook_lcs(spark):
    """The Arrow-batched ROUGE-L DP matches a pure-Python reference
    LCS on hand cases and randomized token sequences."""
    import itertools
    import random

    from metadata_etl_framework_spark.ops.evaluation import rouge_l

    def ref_lcs(a, b):
        a, b = a.lower().split(), b.lower().split()
        dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
        for i, j in itertools.product(range(len(a)), range(len(b))):
            dp[i + 1][j + 1] = (
                dp[i][j] + 1 if a[i] == b[j]
                else max(dp[i][j + 1], dp[i + 1][j])
            )
        return dp[-1][-1]

    rng = random.Random(7)
    vocab = ["a", "b", "c", "d", "e"]
    cases = [
        (1, "the cat sat", "the cat sat"),
        (2, "a b c d", "b d"),
        (3, "", "x y"),
        (4, "x y", ""),
    ] + [
        (10 + i,
         " ".join(rng.choices(vocab, k=rng.randint(1, 12))),
         " ".join(rng.choices(vocab, k=rng.randint(1, 12))))
        for i in range(20)
    ]
    df = spark.createDataFrame(cases, "pid long, cand string, ref string")
    got = {r["pid"]: r for r in rouge_l(df, "pid", "cand", "ref").collect()}
    for pid, c, r in cases:
        assert got[pid]["lcs"] == ref_lcs(c, r), (pid, c, r)
    assert got[1]["f1"] == 1.0
    assert got[2]["precision"] == 0.5 and got[2]["recall"] == 1.0
    assert got[3]["precision"] is None and got[3]["recall"] == 0.0


def test_embedding_drift_identity_and_shift(spark):
    """Identical snapshots give centroid cosine 1 / L2 0 / PSI 0; a
    deterministic shifted copy moves every readout."""
    from metadata_etl_framework_spark.quality.drift import embedding_drift
    from metadata_etl_framework_spark.sources.tables import (
        read_parquet_table,
    )

    emb = read_parquet_table(
        spark, "/root/testdata/sf0.001/embeddings.parquet"
    )
    same = {r["metric"]: r["value"]
            for r in embedding_drift(emb, emb).collect()}
    assert same["centroid_cosine"] == 1.0
    assert same["centroid_l2"] == 0.0
    assert same["psi_cos_to_centroid"] == 0.0
    assert same["n_ref"] == same["n_cur"]

    shifted = emb.withColumn(
        "embedding",
        F.transform("embedding", lambda v: v + F.lit(0.5)),
    )
    sh = {r["metric"]: r["value"]
          for r in embedding_drift(emb, shifted).collect()}
    assert sh["centroid_l2"] > 1.0  # +0.5 on 64 dims -> l2 = 4.0
    assert sh["psi_cos_to_centroid"] > 0.1


def test_chrf_invariances_and_hand_case(spark):
    """chrF ignores tokenization/case/whitespace (perfect score on a
    re-spaced recasing); the abcd/abce hand case matches the clipped
    char-gram arithmetic."""
    from metadata_etl_framework_spark.ops.evaluation import chrf_score

    inv = spark.createDataFrame(
        [(1, "hello world", "HEL LO\tWORLD")],
        "pid long, cand string, ref string",
    )
    r = chrf_score(inv, "pid", "cand", "ref").collect()[0]
    assert (r["avg_precision"], r["avg_recall"], r["chrf"]) == (1.0, 1.0, 1.0)

    # cand=abcd ref=abce: per order clipped/total = 3/4, 2/3, 1/2, 0/1
    h = spark.createDataFrame(
        [(1, "abcd", "abce")], "pid long, cand string, ref string"
    )
    x = chrf_score(h, "pid", "cand", "ref", max_n=4).collect()[0]
    ap = (3 / 4 + 2 / 3 + 1 / 2 + 0) / 4
    assert abs(x["avg_precision"] - round(ap, 6)) < 1e-6
    assert abs(x["avg_recall"] - round(ap, 6)) < 1e-6  # symmetric lengths
    chrf = 5 * ap * ap / (4 * ap + ap)
    assert abs(x["chrf"] - round(chrf, 6)) < 1e-6


def test_seasonal_residual_anomaly_injected_spike(spark):
    """An exactly periodic series with one injected spike flags exactly
    that bucket, with the seasonal expectation (not the global mean) as
    the baseline; the spike-free series flags nothing."""
    import datetime as dt

    from metadata_etl_framework_spark.quality.anomaly import (
        detect_seasonal_residual,
    )

    base = dt.datetime(2026, 1, 1)
    cyc = [1.0, 5.0, 2.0, 8.0]
    clean_rows = [(base + dt.timedelta(hours=h), cyc[h % 4])
                  for h in range(96)]
    clean = spark.createDataFrame(clean_rows, "ts timestamp, v double")
    assert detect_seasonal_residual(
        clean, "ts", "v", 3600, season=4, threshold=3.0
    ).count() == 0

    rows = list(clean_rows)
    rows[50] = (rows[50][0], 50.0)
    spiked = spark.createDataFrame(rows, "ts timestamp, v double")
    hits = detect_seasonal_residual(
        spiked, "ts", "v", 3600, season=4, threshold=3.0
    ).collect()
    assert len(hits) == 1
    h = hits[0]
    # season-2 expectation: (2*23 + 50)/24 = 4.0; residual 46
    assert (h["season_idx"], h["y"], h["expected"], h["residual"]) == (
        2, 50.0, 4.0, 46.0
    )


def test_markov_attribution_closed_form(spark):
    """Three hand journeys (click->conv, view->none,
    click->view->conv): base conversion 2/3 by the absorbing-chain
    closed form; removing click leaves only start->view->conv at
    1/3 * 1/2 = 1/6; click out-credits view."""
    import datetime as dt

    from metadata_etl_framework_spark.ops.attribution import (
        markov_attribution,
    )

    base = dt.datetime(2026, 1, 1)
    rows, eid = [], 0
    for u, seq in ((1, ["click", "purchase"]), (2, ["view"]),
                   (3, ["click", "view", "purchase"])):
        for t in seq:
            rows.append((eid, base + dt.timedelta(minutes=eid), u, t))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {r["touch"]: r for r in markov_attribution(
        df, "purchase", ["click", "view"], iterations=25).collect()}
    assert got["click"]["base_conversion"] == 0.666667
    assert got["click"]["removed_conversion"] == 0.166667
    assert got["view"]["removed_conversion"] == 0.333333
    assert got["click"]["share"] == 0.6 and got["view"]["share"] == 0.4


def test_qini_monotone_uplift_fixture(spark):
    """A score that IS the uplift driver yields a declining per-bucket
    uplift and a positive Qini coefficient; a useless (constant)
    score yields a coefficient of ~0 against its own diagonal."""
    from metadata_etl_framework_spark.ops.evaluation import (
        qini_coefficient,
        qini_table,
    )

    rows = []
    for i in range(2000):
        s = (i * 37 % 100) / 100.0
        t = i % 2
        # deterministic outcome: treated convert iff s >= .5, control
        # convert iff i % 10 == 0 (uplift concentrated in high scores)
        y = int((t == 1 and s >= 0.5) or i % 10 == 0)
        rows.append((i, s, t, y))
    df = spark.createDataFrame(rows, "id long, s double, t int, y int")
    tab = qini_table(df, "s", "t", "y", "id", n_buckets=10)
    grid = {r["bucket"]: r for r in tab.collect()}
    assert grid[1]["uplift"] > grid[10]["uplift"]
    assert grid[10]["qini"] is not None
    co = qini_coefficient(tab).collect()[0]
    assert co["qini_coefficient"] > 0

    flat = df.withColumn("s", F.lit(1.0))
    co2 = qini_coefficient(
        qini_table(flat, "s", "t", "y", "id", n_buckets=10)
    ).collect()[0]
    assert abs(co2["qini_coefficient"]) < co["qini_coefficient"] / 4


def test_covariate_balance_flags_constructed_shift(spark):
    """A covariate shifted by +5 std under treatment flags imbalanced;
    the identical covariate does not, and its SMD is exactly 0."""
    from metadata_etl_framework_spark.ops.evaluation import (
        covariate_balance,
    )

    rows = [
        (i % 2, float(i // 2 % 10),
         float(i // 2 % 10) + (5.0 if i % 2 else 0.0))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "t int, same double, shifted double")
    got = {r["col"]: r for r in
           covariate_balance(df, "t", ["same", "shifted"]).collect()}
    assert got["same"]["smd"] == 0.0 and got["same"]["imbalanced"] is False
    assert got["shifted"]["imbalanced"] is True
    assert got["shifted"]["smd"] > 1.0
    assert got["same"]["n_treat"] == 200 and got["same"]["n_ctrl"] == 200


def test_nelson_aalen_textbook_case(spark):
    """Classic small-sample check: lifetimes {0:2 churn, 1:1 churn,
    2:1 censored} -> H = 2/4 at t=0, +1/2 at t=1, +0 at t=2; and
    KM/NA consistency: survival >= exp(-H) ... actually equality holds
    only without ties, so pin exact H values instead."""
    import datetime as dt

    from metadata_etl_framework_spark.ops.retention import nelson_aalen

    base = dt.datetime(2026, 1, 1)
    rows = []
    # users 1,2: single-day lifetime (t=0), last event day 1 -> churned
    for u in (1, 2):
        rows.append((u, base))
    # user 3: t=1, churned
    rows += [(3, base), (3, base + dt.timedelta(days=1))]
    # user 4: t=2, last event 8 days before corpus end -> churned too
    rows += [(4, base), (4, base + dt.timedelta(days=2))]
    # anchor: corpus end 10 days out; its own lifetime-0 is censored
    rows += [(9, base + dt.timedelta(days=10))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {r["duration_days"]: r for r in
           nelson_aalen(df, horizon_days=7).collect()}
    # t=0: at risk all 5 units, churn d=2 (u1,u2; anchor censored)
    assert got[0]["n_at_risk"] == 5 and got[0]["n_events"] == 2
    assert got[0]["hazard_increment"] == 0.4
    # t=1: at risk {u3,u4}, u3 churns -> +1/2
    assert got[1]["n_at_risk"] == 2 and got[1]["n_events"] == 1
    assert got[1]["cumulative_hazard"] == 0.9
    # t=2: at risk {u4}, churns -> +1
    assert got[2]["n_events"] == 1
    assert got[2]["cumulative_hazard"] == 1.9


def test_scaling_laws_on_constructed_zipf_corpus(spark):
    """A corpus built FROM a Zipf distribution (term k appears
    floor(1000/k) times) recovers slope ~ -1; vocabulary that keeps
    growing across prefixes yields beta in (0, 1)."""
    from metadata_etl_framework_spark.ops.text import (
        corpus_scaling_laws,
        heaps_growth,
    )

    docs = []
    did = 0
    # 200 terms, term k repeated 1000//k times, spread over documents
    # of 50 tokens; term ids interleaved so vocab grows with doc_id
    words = []
    for k in range(1, 201):
        words += [f"w{k:04d}"] * (1000 // k)
    # deterministic permutation spreads rare terms through the corpus
    # (packed in frequency order, vocabulary would EXPLODE at the tail
    # and the growth fit would be super-linear — correctly)
    n_w = len(words)
    words = [words[(i * 2741) % n_w] for i in range(n_w)]
    for i in range(0, len(words), 50):
        docs.append((did, " ".join(words[i:i + 50])))
        did += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")
    r = corpus_scaling_laws(df, top_k_terms=200).collect()[0]
    assert -1.2 < r["zipf_slope"] < -0.8
    assert 0.0 < r["heaps_beta"] < 1.0
    g = {x["point"]: x["vocab"] for x in heaps_growth(df).collect()}
    assert g[10] == 200 and g[1] < g[10]


def test_ipw_ate_recovers_effect_under_confounding(spark):
    """Confounded assignment (high-x units mostly treated) biases the
    naive difference; weighting by the TRUE propensity recovers the
    constant additive effect exactly (outcomes are deterministic)."""
    from metadata_etl_framework_spark.ops.evaluation import ipw_ate

    rows = []
    # covariate x in {0,1}: p(t|x=1)=0.8, p(t|x=0)=0.2 via counts;
    # outcome y = 10*x + 5*t (true ATE = 5)
    for i in range(1000):
        x = i % 2
        t = 1 if (i % 10) < (8 if x else 2) else 0
        rows.append((t, float(10 * x + 5 * t), 0.8 if x else 0.2))
    df = spark.createDataFrame(rows, "t int, y double, p double")
    r = ipw_ate(df, "t", "y", "p").collect()[0]
    assert abs(r["ate"] - 5.0) < 1e-6
    # the naive difference is badly biased on the same data
    naive = (
        df.groupBy("t").agg(F.avg("y").alias("m")).collect()
    )
    m = {row["t"]: row["m"] for row in naive}
    assert abs((m[1] - m[0]) - 5.0) > 2.0


def test_readability_hand_cases(spark):
    """Hand-checked counts: 3 sentences / 8 monosyllables scores high;
    polysyllabic jargon scores deeply negative; empty text is NULL;
    punctuation-free text counts one sentence."""
    from metadata_etl_framework_spark.ops.text import text_readability

    df = spark.createDataFrame([
        (1, "The cat sat. The dog ran! Did it?"),
        (2, "no punctuation here at all"),
        (3, ""),
        (4, "Incomprehensibility characterizes bureaucratization."),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in text_readability(df).collect()}
    assert (got[1]["n_words"], got[1]["n_sentences"],
            got[1]["n_syllables"]) == (8, 3, 8)
    assert got[1]["flesch"] > 100
    assert got[2]["n_sentences"] == 1
    assert got[3]["flesch"] is None and got[3]["n_words"] == 0
    assert got[4]["n_syllables"] >= 15 and got[4]["flesch"] < 0


def test_periodogram_finds_pure_sinusoid(spark):
    """A pure period-12 sinusoid concentrates ALL variance at period
    12: power = (nA/2)^2 and fraction exactly 1; neighbors are tiny."""
    import datetime as dt
    import math

    from metadata_etl_framework_spark.functions.aggregations import (
        dominant_periods,
    )

    base = dt.datetime(2026, 1, 1)
    rows = [(base + dt.timedelta(hours=h),
             10.0 + 3.0 * math.sin(2 * math.pi * h / 12))
            for h in range(240)]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    got = {r["period"]: r for r in
           dominant_periods(df, "ts", "v", 3600, 2, 24).collect()}
    assert abs(got[12]["power"] - (240 * 3.0 / 2) ** 2) < 1e-3
    assert got[12]["fraction"] == 1.0
    assert got[11]["fraction"] < 0.05 and got[13]["fraction"] < 0.05


def test_embed_covariance_max_dim_gate(spark):
    """Round-10 verdict task 8: the O(d²) driver-side embedding ops must
    fail LOUD (documented ValueError naming max_dim) on a
    higher-than-gated dimension instead of OOMing mid-collect — and
    raising max_dim explicitly must accept the same corpus."""
    import pytest as _pytest

    from metadata_etl_framework_spark.ops.similarity import (
        embed_covariance,
        embedding_pca,
        mahalanobis_outliers,
    )

    d = 12
    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(d)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    for call in (
        lambda: embed_covariance(df, max_dim=8).collect(),
        lambda: embedding_pca(df, k=2, max_dim=8),
        lambda: mahalanobis_outliers(df, max_dim=8).collect(),
    ):
        with _pytest.raises(ValueError, match="max_dim=8"):
            call()

    # explicit opt-in: the same corpus passes when the caller accepts d
    assert embed_covariance(df, max_dim=d).count() == d * (d + 1) // 2


def test_covariate_balance_large_offset_exact(spark):
    """Round-12 ulp-sweep pin (the welch_t_test class): covariates
    sitting on a 1e9 offset with variance ~1 — the regime where the
    old DECIMAL→double-then-cancel variance loses everything to the
    cast ulp. With the micro-int formulation SMD is exact: identical
    offset-free and offset-1e9 columns must produce the SAME smd."""
    from metadata_etl_framework_spark.ops.evaluation import (
        covariate_balance,
    )
    from pyspark.sql import functions as F

    df = spark.range(400).select(
        (F.col("id") % 2 == 0).alias("t"),
        (F.col("id") % 7).cast("double").alias("small"),
        ((F.col("id") % 7) + F.lit(1e9)).cast("double").alias("huge"),
    )
    out = {r["col"]: r for r in
           covariate_balance(df, "t", ["small", "huge"]).collect()}
    assert out["small"]["smd"] is not None
    # the 1e9 offset cancels exactly in the integer arithmetic: same
    # spread -> same variance -> same standardized difference
    assert out["huge"]["smd"] == out["small"]["smd"]


def test_robust_moments_known_values(spark):
    from metadata_etl_framework_spark.functions.aggregations import (
        robust_moments,
    )
    from pyspark.sql import functions as F

    # 1..10 plus one wild outlier: robust four barely move, mean jumps
    vals = [float(i) for i in range(1, 11)] + [1e6]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    r = robust_moments(df, "x", trim=0.1).first()
    assert r["n"] == 11 and r["k"] == 1
    assert r["mean"] > 90000
    assert r["median"] == 6.0  # 6th of 11
    # trimmed: drop 1 per tail -> mean of 2..10 = 6.0
    assert r["trimmed_mean"] == 6.0
    # winsorized: 1 -> 2, 1e6 -> 10 -> (2 + 2..10 + 10)/11
    expect_w = (2 + sum(range(2, 11)) + 10) / 11
    assert r["winsorized_mean"] == round(expect_w, 6)
    # MAD: |v - 6| = [5,4,3,2,1,0,1,2,3,4,999994] -> median 3
    assert r["mad"] == 3.0


def test_robust_moments_trim_zero_and_duplicates(spark):
    from metadata_etl_framework_spark.functions.aggregations import (
        robust_moments,
    )

    df = spark.createDataFrame(
        [(1.0,), (1.0,), (2.0,), (4.0,)], "x double"
    )
    r = robust_moments(df, "x", trim=0.0).first()
    assert r["k"] == 0
    assert r["mean"] == r["trimmed_mean"] == r["winsorized_mean"] == 2.0
    assert r["median"] == 1.5  # avg of 2nd and 3rd order stats
    import pytest as _pt

    with _pt.raises(ValueError, match="trim"):
        robust_moments(df, "x", trim=0.5)


def test_betweenness_sampled_path_graph(spark):
    """Brandes on the path 0-1-2-3-4 from both endpoints: every
    interior node accumulates dependency 4 (3+1, 2+2, 1+3)."""
    from metadata_etl_framework_spark.ops.graph import (
        betweenness_sampled,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_sampled(edges, [0, 4]).collect()
    }
    assert got == {1: 4.0, 2: 4.0, 3: 4.0}


def test_betweenness_sampled_diamond_sigma_split(spark):
    """σ path counting: the diamond 0→{1,2}→3 has TWO shortest 0→3
    paths, so each middle node gets dependency 1/2 from source 0 —
    the σ_v/σ_w ratio, not just reachability."""
    from metadata_etl_framework_spark.ops.graph import (
        betweenness_sampled,
    )

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_sampled(edges, [0]).collect()
    }
    assert got == {1: 0.5, 2: 0.5}


def test_link_prediction_triangle_pendant_excludes_edges(spark):
    """Triangle 0-1-2 plus pendant 2-3: the only candidate non-edges
    are (0,3) and (1,3) via node 2 (degree 3); connected pairs share
    neighbors too but must be removed by the anti-join."""
    from metadata_etl_framework_spark.ops.graph import link_prediction

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], "src long, dst long"
    )
    rows = {
        (r["node_a"], r["node_b"]): r
    for r in link_prediction(edges).collect()
    }
    assert set(rows) == {(0, 3), (1, 3)}
    r = rows[(0, 3)]
    assert r["common"] == 1
    assert r["degree_a"] == 2 and r["degree_b"] == 1
    # jaccard = 1 / (2 + 1 - 1); AA = 1/ln(3); RA = 1/3
    assert r["jaccard"] == 0.5
    assert r["adamic_adar"] == round(1.0 / __import__("math").log(3), 6)
    assert r["resource_alloc"] == 0.333333
    assert r["pref_attach"] == 2


def test_link_prediction_square_min_common_and_topk(spark):
    """Square 0-1-2-3-0: diagonals (0,2) and (1,3) each have TWO
    common neighbors — min_common=2 keeps both, top_k=1 cuts by the
    (adamic_adar DESC, node_a, node_b) total order."""
    from metadata_etl_framework_spark.ops.graph import link_prediction

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 3)], "src long, dst long"
    )
    got = link_prediction(edges, min_common=2).collect()
    assert {(r["node_a"], r["node_b"]) for r in got} == {(0, 2), (1, 3)}
    for r in got:
        assert r["common"] == 2
        assert r["jaccard"] == 1.0  # 2 / (2 + 2 - 2)
        assert r["adamic_adar"] == round(
            2.0 / __import__("math").log(2), 6
        )
    top = link_prediction(edges, min_common=2, top_k=1).collect()
    assert [(r["node_a"], r["node_b"]) for r in top] == [(0, 2)]


def test_assortativity_star_and_regular(spark):
    """Star K1,3 is perfectly disassortative (r = -1); a regular graph
    (triangle) has zero degree variance -> NULL."""
    from metadata_etl_framework_spark.ops.graph import assortativity

    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    r = assortativity(star).collect()[0]
    assert r["n_nodes"] == 4 and r["n_edges"] == 3
    assert r["assortativity"] == -1.0
    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "src long, dst long"
    )
    r = assortativity(tri).collect()[0]
    assert r["n_nodes"] == 3 and r["n_edges"] == 3
    assert r["assortativity"] is None


def test_modularity_two_triangles_bridge(spark):
    """Two triangles bridged by one edge, communities = the triangles:
    each community has e_c=3, D_c=7 of m=7 edges ->
    Q_c = 3/7 - (7/14)^2 = 0.178571 (hand math)."""
    from metadata_etl_framework_spark.ops.graph import modularity

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(i, "A" if i < 3 else "B") for i in range(6)],
        "node long, community string",
    )
    rows = modularity(edges, labels).collect()
    assert [r["community"] for r in rows] == ["A", "B"]
    for r in rows:
        assert r["n_nodes"] == 3
        assert r["intra_edges"] == 3
        assert r["degree_sum"] == 7
        assert r["q_contrib"] == 0.178571


def test_textrank_connector_outranks_frequent_pair(spark):
    """A connector word co-occurring with MANY distinct words must
    outrank words from one high-frequency pair — the property that
    separates TextRank from raw counts."""
    from metadata_etl_framework_spark.ops.text import textrank_keywords

    docs = [
        # 'hub' touches many distinct words (each pair twice to clear
        # the support floor)...
        ("hub alpha hub beta hub gamma hub delta",),
        ("hub alpha hub beta hub gamma hub delta",),
        # ...while 'spam ham' repeats as an isolated pair
        ("spam ham spam ham spam ham spam ham spam ham",),
    ]
    df = spark.createDataFrame(docs, "text string")
    out = textrank_keywords(
        df, "text", window=2, iterations=3, top_k=10, min_cooc=2
    ).collect()
    ranks = {r["word"]: r["rank"] for r in out}
    assert out[0]["word"] == "hub"
    assert ranks["hub"] > ranks["spam"]
    # deterministic ordering: ties broken by word
    assert [r["word"] for r in out] == sorted(
        [r["word"] for r in out],
        key=lambda w: (-ranks[w], w),
    )


def test_textrank_window_and_support_floor(spark):
    """window=1 links only adjacent tokens; min_cooc prunes pairs
    below the support floor so once-off neighbors never enter the
    graph."""
    from metadata_etl_framework_spark.ops.text import textrank_keywords

    docs = [("a b c",), ("a b d",)]
    df = spark.createDataFrame(docs, "text string")
    # pair (a,b) occurs twice; (b,c) and (b,d) once each -> only a,b
    out = textrank_keywords(
        df, "text", window=1, iterations=2, top_k=10, min_cooc=2
    ).collect()
    assert {r["word"] for r in out} == {"a", "b"}
    import pytest as _pt

    with _pt.raises(ValueError, match="window"):
        textrank_keywords(df, "text", window=0)


def test_eigenvector_centrality_star_and_path(spark):
    """Star (undirected): the hub's score must dominate the leaves
    and the result is L2-normalized. A directed edge into a sink
    gives the sink all the mass."""
    from metadata_etl_framework_spark.ops.graph import (
        eigenvector_centrality,
    )

    und = [(0, i) for i in (1, 2, 3)] + [(i, 0) for i in (1, 2, 3)]
    star = spark.createDataFrame(und, "src long, dst long")
    got = eigenvector_centrality(star, iterations=8)
    rows = {r["node"]: r["score"] for r in got.collect()}
    got.unpersist()
    assert rows[0] > rows[1] == rows[2] == rows[3] > 0
    l2 = sum(v * v for v in rows.values())
    assert abs(l2 - 1.0) < 1e-6
    # analytic: hub = 1/sqrt(2), leaves = 1/sqrt(6)
    assert abs(rows[0] - 0.707107) < 1e-4
    assert abs(rows[1] - 0.408248) < 1e-4
    import pytest as _pt

    with _pt.raises(ValueError, match="iterations"):
        eigenvector_centrality(star, iterations=0)


def test_hbos_flags_planted_multivariate_outlier(spark):
    """A row extreme in EVERY feature lands in sparse bins of all
    three histograms and must take the top score; ties under the
    rounded score break by id."""
    from metadata_etl_framework_spark.quality.anomaly import hbos_scores

    rows = [(i, float(i % 10), float((i * 3) % 10), 1.0)
            for i in range(500)]
    rows.append((9999, 100.0, 100.0, 100.0))  # the outlier
    df = spark.createDataFrame(rows, "rid long, a double, b double, c double")
    out = hbos_scores(df, ["a", "b", "c"], "rid", n_bins=16, top_k=5)
    top = out.collect()
    assert top[0]["rid"] == 9999
    assert top[0]["score"] > top[1]["score"]
    # outlier sits in the last bin of every feature
    assert (top[0]["bin_a"], top[0]["bin_b"], top[0]["bin_c"]) == (15, 15, 15)
    import pytest as _pt

    with _pt.raises(ValueError, match="cols"):
        hbos_scores(df, [], "rid")
    # a genuinely constant column: zero width -> one bin -> score 0
    const = df.where(F.col("rid") != 9999)
    out2 = hbos_scores(const, ["c"], "rid", top_k=3).collect()
    assert all(r["score"] == 0.0 and r["bin_c"] == 0 for r in out2)


def test_rmst_hand_math_step_curve(spark):
    """4 users, no censoring horizon tricks: lifetimes 0,0,10,20 with
    corpus end at the last event. With horizon 5: users ending >5 days
    before the end churn. Hand-integrate the resulting KM curve."""
    import datetime as dt

    from metadata_etl_framework_spark.ops.retention import (
        kaplan_meier,
        rmst,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    # u1: single event day0 (lifetime 0); u2: day0..day10; u3: day0..day20
    rows += [(1, base)]
    rows += [(2, base), (2, base + dt.timedelta(days=10))]
    rows += [(3, base), (3, base + dt.timedelta(days=20))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    km = {r["duration_days"]: r for r in
          kaplan_meier(df, horizon_days=5).collect()}
    # corpus end day20: u1 (last day0, 20>5) churn at t=0; u2 churn at
    # t=10; u3 censored at t=20.
    # S: t=0: n=3,d=1 -> 2/3; t=10: n=2,d=1 -> 1/3; t=20 censored
    assert km[0]["n_events"] == 1 and round(km[0]["survival"], 6) == round(2/3, 6)
    assert round(km[10]["survival"], 6) == round(1/3, 6)
    r = rmst(df, horizon_days=5, tau=15).first()
    # integral of the PUBLISHED (6dp-rounded) curve to tau=15:
    # S(0)=0.666667 over [0,10) + S(10)=0.333333 over [10,15)
    assert r["rmst_days"] == round(0.666667 * 10 + 0.333333 * 5, 6)
    assert r["tau"] == 15 and r["n_users"] == 3


def test_greedy_modularity_move_collapses_triangles(spark):
    """Two triangles bridged by one edge: 4 min-ward rounds from
    singletons must reach the optimal partition (each triangle one
    community, Q = 2 * (3/7 - (7/14)^2) = 0.357142) and be a fixpoint
    afterwards; Q must improve monotonically with rounds."""
    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.ops.graph import (
        greedy_modularity_move,
        modularity,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )

    def q_of(lab):
        return modularity(edges, lab).agg(
            F.sum("q_contrib").alias("q")
        ).collect()[0]["q"]

    qs = []
    for rounds in (1, 2, 4):
        lab = greedy_modularity_move(edges, rounds=rounds)
        qs.append(q_of(lab))
    assert qs == sorted(qs)
    assert abs(qs[-1] - 0.357142) < 1e-6
    lab4 = {
        r["node"]: r["community"]
        for r in greedy_modularity_move(edges, rounds=4).collect()
    }
    lab6 = {
        r["node"]: r["community"]
        for r in greedy_modularity_move(edges, rounds=6).collect()
    }
    assert lab4 == lab6  # converged partition is a move fixpoint
    # partition content: the two triangles, whatever the label names
    groups = {}
    for n, c in lab4.items():
        groups.setdefault(c, set()).add(n)
    assert sorted(map(sorted, groups.values())) == [
        [1, 2, 3], [4, 5, 6],
    ]


def test_greedy_modularity_move_never_swaps(spark):
    """A single edge between two singletons: the min-ward rule lets
    only the LARGER-labeled node move, so the pair merges instead of
    swapping (the synchronous-update pathology this op must avoid)."""
    from metadata_etl_framework_spark.ops.graph import (
        greedy_modularity_move,
    )

    edges = spark.createDataFrame([(7, 9)], "src long, dst long")
    lab = {
        r["node"]: r["community"]
        for r in greedy_modularity_move(edges, rounds=3).collect()
    }
    assert lab == {7: 7, 9: 7}


def test_greedy_modularity_move_respects_start_labels(spark):
    """Starting from a given labeling (not singletons), nodes refine
    it: a wrongly-assigned node joins its triangle's community."""
    from metadata_etl_framework_spark.ops.graph import (
        greedy_modularity_move,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    start = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 4), (4, 4), (5, 4), (6, 4)],
        "node long, community long",
    )
    lab = {
        r["node"]: r["community"]
        for r in greedy_modularity_move(
            edges, rounds=2, labels=start
        ).collect()
    }
    assert lab[3] == 1  # rejoined its triangle
    assert lab[1] == lab[2] == 1
    assert lab[4] == lab[5] == lab[6] == 4

    import pytest

    with pytest.raises(ValueError, match="rounds"):
        greedy_modularity_move(edges, rounds=0)
    empty = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError, match="no edges"):
        greedy_modularity_move(empty, rounds=1)


def test_greedy_modularity_move_validates_start_labels(spark):
    """Supplied labels that miss graph nodes default them to singleton
    communities (NOT silently dropped), and a node carrying two
    different communities raises instead of duplicating through every
    round."""
    import pytest

    from metadata_etl_framework_spark.ops.graph import (
        greedy_modularity_move,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)],
        "src long, dst long",
    )
    # nodes 4,5,6 absent from labels: must still appear in the output,
    # seeded as singletons, and coalesce into their own triangle
    partial = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "node long, community long"
    )
    lab = {
        r["node"]: r["community"]
        for r in greedy_modularity_move(
            edges, rounds=2, labels=partial
        ).collect()
    }
    assert sorted(lab) == [1, 2, 3, 4, 5, 6]
    assert lab[1] == lab[2] == lab[3] == 1
    assert lab[4] == lab[5] == lab[6]

    dup = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)],
        "node long, community long",
    )
    with pytest.raises(ValueError, match="multiple communities"):
        greedy_modularity_move(edges, rounds=2, labels=dup)


def test_louvain_two_level_acceptance_both_directions(spark):
    """The exact Q*4m^2 acceptance test must keep phase 1 where
    synchronous level-2 moves cascade (ring of 4-cliques: level-2 raw
    result measured WORSE), and keep level 2 where contraction merges
    win (chain of cliques pairwise-bridged more densely)."""
    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.ops.graph import (
        greedy_modularity_move,
        louvain_two_level,
        modularity,
    )

    def q_of(edges, lab):
        return modularity(edges, lab).agg(
            F.sum("q_contrib").alias("q")
        ).collect()[0]["q"]

    # ring of 20 4-cliques: phase 1 finds the cliques (optimal for
    # the greedy pass); level-2 must NOT degrade the result
    t, s = 20, 4
    rows = []
    for c in range(t):
        b = s * c
        for i in range(s):
            for j in range(i + 1, s):
                rows.append((b + i, b + j))
        rows.append((b + s - 1, s * ((c + 1) % t)))
    ring = spark.createDataFrame(rows, "src long, dst long")
    q1 = q_of(ring, greedy_modularity_move(ring, rounds=4))
    q2 = q_of(ring, louvain_two_level(ring, rounds=4))
    assert q2 >= q1  # acceptance test: never worse than phase 1

    # two triangles bridged: level 2 is a no-op fixpoint; the result
    # must still be the optimal partition and deterministic
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    a = sorted(
        (r["node"], r["community"])
        for r in louvain_two_level(tri, rounds=4).collect()
    )
    b2 = sorted(
        (r["node"], r["community"])
        for r in louvain_two_level(tri, rounds=4).collect()
    )
    assert a == b2
    assert abs(q_of(tri, louvain_two_level(tri, rounds=4)) - 0.357142) < 1e-6


def test_move_rounds_driver_arm_matches_distributed(spark, monkeypatch):
    """The gated driver fast path (r16: _move_rounds_py /
    _louvain_driver_py under _DRIVER_MOVE_MAX_EDGES) must return
    BIT-IDENTICAL labels to the distributed rounds — same scores,
    tie-breaks, direction rule, quiet-round exit, contraction and
    acceptance — on the shapes that exercise each mechanism: the
    clique ring (acceptance keeps phase 1), the bridged triangles
    (level-2 no-op), and a supplied-labels start."""
    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.ops.graph import (
        greedy_modularity_move,
        louvain_two_level,
    )

    t, s = 8, 4
    rows = []
    for c in range(t):
        b = s * c
        for i in range(s):
            for j in range(i + 1, s):
                rows.append((b + i, b + j))
        rows.append((b + s - 1, s * ((c + 1) % t)))
    ring = spark.createDataFrame(rows, "src long, dst long")
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )

    def rows_of(df):
        return sorted(map(tuple, df.collect()))

    start = ring.select(F.col("src").alias("node")).union(
        ring.select(F.col("dst"))
    ).distinct().select(
        "node", (F.col("node") % 3).alias("community")
    )

    def run_all():
        out = []
        for g in (ring, tri):
            out.append(rows_of(louvain_two_level(g, rounds=4)))
            out.append(rows_of(greedy_modularity_move(g, rounds=4)))
        out.append(
            rows_of(greedy_modularity_move(ring, rounds=3, labels=start))
        )
        return out

    on = run_all()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
    assert run_all() == on


def test_exact_pico_sums_row_hint_single_level_parity(spark):
    """The row_hint fast path (small row×stream products skip the
    two-level split for a plain single-level DECIMAL sum) must return
    bit-identical values to the two-level form, grouped and global,
    including long_terms and the count alias."""
    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.ops.exact_agg import (
        exact_pico_sums,
    )

    df = spark.createDataFrame(
        [(i % 3, i * 0.001 - 0.5, i % 7) for i in range(1000)],
        "g int, x double, k int",
    )
    terms = {"sx": F.col("x"), "sxx": F.col("x") * F.col("x")}
    longs = {"sk": F.col("k")}

    def rows(row_hint):
        return sorted(
            tuple(r)
            for r in exact_pico_sums(
                df,
                terms,
                group_cols=["g"],
                long_terms=longs,
                count_alias="n",
                row_hint=row_hint,
            ).collect()
        )

    # row_hint=1000 × 3 streams < threshold → single-level;
    # row_hint=None → two-level; values must match exactly
    assert rows(1000) == rows(None)
    a = exact_pico_sums(df, terms, row_hint=1000).collect()[0]
    b = exact_pico_sums(df, terms, row_hint=None).collect()[0]
    assert tuple(a) == tuple(b)

    # the single-level plan really is single-level: the sub-bucket key
    # (monotonically_increasing_id) appears only in the two-level form
    plan = exact_pico_sums(
        df, terms, row_hint=1000
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "monotonically_increasing_id" not in plan
    plan2 = exact_pico_sums(
        df, terms, row_hint=10_000_000
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "monotonically_increasing_id" in plan2


def test_pmi_embeddings_shape_and_determinism(spark):
    """The PPMI factorization keeps only positive-PMI nodes, emits one
    rank-2 row per node, and replays identically (hash init + exact
    pico sums — no RNG anywhere)."""
    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.ops.graph import pmi_embeddings

    pairs = spark.createDataFrame(
        [
            (1, 2, 4, 1.386294),
            (1, 3, 2, 0.693147),
            (2, 3, 1, -0.405465),  # negative PMI: dropped by PPMI
            (4, 5, 3, 2.079442),
        ],
        "node_a long, node_b long, n_cooc long, pmi double",
    )
    emb = pmi_embeddings(pairs, rounds=2, reg=0.1)
    rows = {r["node"]: (r["f1"], r["f2"]) for r in emb.collect()}
    # nodes 2 and 3 keep their positive pairs with 1; the (2,3) cell is
    # dropped but both nodes survive via other edges
    assert sorted(rows) == [1, 2, 3, 4, 5]
    again = {
        r["node"]: (r["f1"], r["f2"])
        for r in pmi_embeddings(pairs, rounds=2, reg=0.1).collect()
    }
    assert rows == again
    # symmetric star: nodes 4 and 5 see identical (single-pair) systems
    # against each other's context factors only in round parity — check
    # every factor is a finite 6-dp double
    for f1, f2 in rows.values():
        assert f1 == round(f1, 6) and f2 == round(f2, 6)
        assert abs(f1) < 1e6 and abs(f2) < 1e6

    # an all-negative-PMI input leaves nothing to factorize: the
    # embedding table is simply empty (no error — an empty PPMI slice
    # is a legitimate corpus state)
    only_neg = spark.createDataFrame(
        [(1, 2, 1, -0.5)], "node_a long, node_b long, n_cooc long, pmi double"
    )
    assert pmi_embeddings(only_neg).count() == 0


def test_cox_ph_multi_matches_single_and_replica(spark, monkeypatch):
    """d=1 cox_ph_multi reproduces cox_ph's beta exactly (same grids,
    same 12-dp Newton updates) on both arms of the driver gate, and
    d=2 betas match an independent pure-Python replica of the Breslow
    partial-likelihood Newton."""
    from metadata_etl_framework_spark.ops.retention import (
        cox_ph,
        cox_ph_multi,
    )

    rows = [
        # (duration, event, x1, x2) — mixed ties, censoring
        (5, 1, 0.2, 0.1), (5, 0, 0.8, 0.3), (8, 1, 0.5, 0.9),
        (8, 1, 0.1, 0.2), (12, 0, 0.9, 0.4), (12, 1, 0.3, 0.8),
        (15, 1, 0.7, 0.1), (20, 0, 0.4, 0.6), (20, 1, 0.6, 0.5),
        (25, 1, 0.2, 0.7),
    ]
    df = spark.createDataFrame(
        rows, "t long, e int, x1 double, x2 double"
    )
    for gate in ("1", "0"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", gate)
        single = cox_ph(df, "t", "e", "x1", iterations=3).collect()[0]
        multi1 = cox_ph_multi(
            df, "t", "e", ["x1"], iterations=3
        ).collect()[0]
        assert multi1["beta"] == single["beta"], gate
        assert multi1["n_subjects"] == single["n_subjects"] == 10
        assert multi1["n_events"] == single["n_events"] == 7
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_GATE")

    got = {
        r["term"]: r
        for r in cox_ph_multi(
            df, "t", "e", ["x1", "x2"], iterations=3
        ).collect()
    }

    # independent replica: same math, no Spark
    def replica(rows, iters):
        import math

        def newton_pass(b):
            grid = {}
            for t, e, x1, x2 in rows:
                w = math.exp(max(min(b[0] * x1 + b[1] * x2, 30), -30))
                g = grid.setdefault(
                    t, {"s0": 0, "s1": [0, 0], "s2": [[0, 0], [0, 0]],
                        "d": 0, "dx": [0, 0]}
                )
                xv = [x1, x2]
                g["s0"] += round(w * 1e12)
                for j in range(2):
                    g["s1"][j] += round(xv[j] * w * 1e12)
                    g["dx"][j] += round(xv[j] * e * 1e12)
                    for k in range(j, 2):
                        g["s2"][j][k] += round(xv[j] * xv[k] * w * 1e12)
                g["d"] += e
            from decimal import Decimal

            u = [Decimal(0)] * 2
            im = [[Decimal(0)] * 2 for _ in range(2)]
            S0 = 0
            S1 = [0, 0]
            S2 = [[0, 0], [0, 0]]
            for t in sorted(grid, reverse=True):
                g = grid[t]
                S0 += g["s0"]
                for j in range(2):
                    S1[j] += g["s1"][j]
                    for k in range(j, 2):
                        S2[j][k] += g["s2"][j][k]
                if g["d"] > 0:
                    for j in range(2):
                        r1j = float(S1[j]) / float(S0)
                        u[j] += Decimal(
                            repr(round(g["dx"][j] / 1e12
                                       - g["d"] * r1j, 10))
                        )
                        for k in range(j, 2):
                            r1k = float(S1[k]) / float(S0)
                            r2 = float(S2[j][k]) / float(S0)
                            im[j][k] += Decimal(
                                repr(round(g["d"] * (r2 - r1j * r1k),
                                           10))
                            )
            uf = [float(v) for v in u]
            h = [[float(im[0][0]), float(im[0][1])],
                 [float(im[0][1]), float(im[1][1])]]
            return uf, h

        b = [0.0, 0.0]
        for _ in range(iters):
            u, h = newton_pass(b)
            det = h[0][0] * h[1][1] - h[0][1] * h[0][1]
            d0 = (h[1][1] * u[0] - h[0][1] * u[1]) / det
            d1 = (h[0][0] * u[1] - h[0][1] * u[0]) / det
            b = [round(b[0] + d0, 12), round(b[1] + d1, 12)]
        return b

    b = replica(rows, 3)
    assert got["x1"]["beta"] == b[0]
    assert got["x2"]["beta"] == b[1]
    assert got["x1"]["hazard_ratio"] == round(
        __import__("math").exp(b[0]), 6
    )


def test_cox_ph_multi_stratified(spark):
    """A constant stratum column reproduces the unstratified fit
    exactly; real strata factorize the risk sets per stratum (checked
    against a per-stratum pure-Python replica at d=1)."""
    from metadata_etl_framework_spark.ops.retention import cox_ph_multi

    rows = [
        # (duration, event, x1, site)
        (5, 1, 0.2, "a"), (5, 0, 0.8, "a"), (8, 1, 0.5, "a"),
        (8, 1, 0.1, "b"), (12, 0, 0.9, "b"), (12, 1, 0.3, "b"),
        (15, 1, 0.7, "a"), (20, 0, 0.4, "b"), (20, 1, 0.6, "a"),
        (25, 1, 0.2, "b"),
    ]
    df = spark.createDataFrame(
        rows, "t long, e int, x1 double, site string"
    ).withColumn("konst", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("z"))

    plain = cox_ph_multi(df, "t", "e", ["x1"], iterations=3).collect()[0]
    const = cox_ph_multi(
        df, "t", "e", ["x1"], iterations=3, strata_col="konst"
    ).collect()[0]
    assert const["beta"] == plain["beta"]
    assert const["se"] == plain["se"]

    strat = cox_ph_multi(
        df, "t", "e", ["x1"], iterations=3, strata_col="site"
    ).collect()[0]

    def replica(rows, iters):
        import math
        from decimal import Decimal

        def newton_pass(b):
            grids = {}
            for t, e, x, g in rows:
                w = math.exp(max(min(b * x, 30), -30))
                gr = grids.setdefault(g, {})
                c = gr.setdefault(t, {"s0": 0, "s1": 0, "s2": 0,
                                      "d": 0, "dx": 0})
                c["s0"] += round(w * 1e12)
                c["s1"] += round(x * w * 1e12)
                c["s2"] += round(x * x * w * 1e12)
                c["d"] += e
                c["dx"] += round(x * e * 1e12)
            u = Decimal(0)
            i_ = Decimal(0)
            for g, gr in grids.items():
                S0 = S1 = S2 = 0
                for t in sorted(gr, reverse=True):
                    c = gr[t]
                    S0 += c["s0"]; S1 += c["s1"]; S2 += c["s2"]
                    if c["d"] > 0:
                        r1 = float(S1) / float(S0)
                        r2 = float(S2) / float(S0)
                        u += Decimal(repr(round(
                            c["dx"] / 1e12 - c["d"] * r1, 10)))
                        i_ += Decimal(repr(round(
                            c["d"] * (r2 - r1 * r1), 10)))
            return float(u), float(i_)

        b = 0.0
        for _ in range(iters):
            u, i_ = newton_pass(b)
            b = round(b + u / i_, 12)
        return b

    assert strat["beta"] == replica(rows, 3)
    assert strat["beta"] != plain["beta"]  # strata really factorize


def test_embedding_mmd_rff_properties(spark):
    """MMD² via deterministic RFF: identical snapshots score ~0, a
    shifted snapshot scores strictly higher, empty sides yield null,
    and the statistic replays identically run-over-run."""
    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.quality.drift import (
        embedding_mmd_rff,
    )

    rows = [(i, [((i * 7 + j * 3) % 11 - 5) / 5.0 for j in range(8)])
            for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    same = embedding_mmd_rff(emb, emb).collect()[0]
    assert same["n_ref"] == same["n_cur"] == 60
    assert same["mmd2"] == 0.0

    shifted = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(1.5)).alias(
            "embedding"
        ),
    )
    diff = embedding_mmd_rff(emb, shifted).collect()[0]
    assert diff["mmd2"] > 0.0
    again = embedding_mmd_rff(emb, shifted).collect()[0]
    assert diff["mmd2"] == again["mmd2"]

    empty = emb.where(F.lit(False))
    nul = embedding_mmd_rff(emb, empty).collect()[0]
    assert nul["mmd2"] is None and nul["n_cur"] == 0


def test_cox_driver_pass_gate_parity(spark, monkeypatch):
    """The Arrow-collect driver pass (_cox_pass_np) must reproduce
    the distributed grouped-aggregation + window pass bit-for-bit —
    same fixture, gate on vs forced off, exact frame equality, for
    the single-covariate, multi-covariate and stratified forms."""
    import pandas as pd

    from metadata_etl_framework_spark.ops.retention import (
        cox_ph,
        cox_ph_multi,
    )

    rows = [
        (
            1 + (i * 7) % 60,
            1 if (i * 13) % 5 > 1 else 0,
            float(i % 23) / 11.0,
            float((i * 3) % 17) / 9.0,
            "A" if i % 3 == 0 else "B",
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "t long, e int, x1 double, x2 double, g string"
    )
    cases = [
        lambda: cox_ph(df, "t", "e", "x1", iterations=3),
        lambda: cox_ph_multi(df, "t", "e", ["x1", "x2"], iterations=3),
        lambda: cox_ph_multi(
            df, "t", "e", ["x1", "x2"], iterations=3, strata_col="g"
        ),
    ]
    on = [make().toPandas() for make in cases]
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
    for make, want in zip(cases, on):
        pd.testing.assert_frame_equal(
            make().toPandas(), want, check_exact=True
        )


def test_checkpoint_leaf_returns_leaf_and_rows(spark):
    """The one-off cut hands back the row its probe computed (the row
    count by default) as the job that filled the leaf, and a frame whose
    logical plan is a single LogicalRDD (lineage cut)."""
    from metadata_etl_framework_spark.ops.materialize import (
        checkpoint_leaf,
        release,
    )

    df = spark.range(37).where(F.col("id") % 3 != 0)
    leaf, row = checkpoint_leaf(df)
    assert row[0] == df.count() == 24
    summed, row = checkpoint_leaf(df, lambda d: d.agg(F.sum("id")))
    assert row[0] == sum(i for i in range(37) if i % 3)
    release(summed)
    plan = leaf._jdf.queryExecution().logical()
    assert plan.nodeName() == "LogicalRDD"
    assert plan.children().isEmpty()
    assert sorted(r.id for r in leaf.collect()) == [
        i for i in range(37) if i % 3
    ]
