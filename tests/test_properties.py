"""Hypothesis property tests over the pure-Python layers: cron matching,
SQL statement splitting, image-header round-trip, data-path extraction,
and PII/chunking invariants checked through Spark on generated corpora.
"""

from __future__ import annotations

import struct
from datetime import datetime, timedelta

import pytest

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from metadata_etl_framework_spark.catalog.schema_manager import (
    split_sql_statements,
)
from metadata_etl_framework_spark.ops.multimodal import decode_image_header
from metadata_etl_framework_spark.orchestrator.scheduler import (
    cron_matches,
    next_run_time,
)
from metadata_etl_framework_spark.sources.api_connector import extract_data_path


@given(
    minute=st.integers(0, 59),
    hour=st.integers(0, 23),
    day_offset=st.integers(0, 365 * 2),
)
@settings(max_examples=200, deadline=None)
def test_cron_star_matches_everything(minute, hour, day_offset):
    dt = datetime(2026, 1, 1, hour, minute) + timedelta(days=day_offset)
    assert cron_matches("* * * * *", dt)
    assert cron_matches(f"{dt.minute} {dt.hour} {dt.day} {dt.month} *", dt)


@given(day=st.integers(1, 28))
@settings(max_examples=100, deadline=None)
def test_cron_dom_dow_or_semantics(day):
    """Vixie-cron: with BOTH day fields restricted, EITHER matching fires."""
    dt = datetime(2026, 3, day, 12, 0)
    cron_dow = (dt.weekday() + 1) % 7
    other_dom = day % 28 + 1  # a dom that does NOT match
    other_dow = (cron_dow + 3) % 7
    # dom matches, dow doesn't → fires (OR)
    assert cron_matches(f"0 12 {day} * {other_dow}", dt)
    # dow matches, dom doesn't → fires (OR)
    assert cron_matches(f"0 12 {other_dom} * {cron_dow}", dt)
    # neither matches → no fire
    assert not cron_matches(f"0 12 {other_dom} * {other_dow}", dt)
    # only dom restricted and mismatching → no fire
    assert not cron_matches(f"0 12 {other_dom} * *", dt)


@given(after=st.datetimes(min_value=datetime(2026, 1, 1),
                          max_value=datetime(2026, 12, 1)))
@settings(max_examples=50, deadline=None)
def test_next_run_time_is_future_and_matches(after):
    nxt = next_run_time("*/15 * * * *", after)
    assert nxt is not None and nxt > after
    assert cron_matches("*/15 * * * *", nxt)
    assert nxt.minute % 15 == 0


_ident = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1, max_size=8,
).filter(lambda s: not s[0].isdigit())


@given(st.lists(_ident, min_size=1, max_size=6))
@settings(max_examples=100, deadline=None)
def test_split_sql_statements_roundtrip(names):
    stmts = [f"CREATE TABLE {n} (x INT DEFAULT 'a;b')" for n in names]
    script = ";\n-- a comment; with semicolon\n".join(stmts) + ";"
    out = split_sql_statements(script)
    assert len(out) == len(stmts)
    for got, want in zip(out, stmts):
        assert got.replace("\n", "").strip() == want


@given(w=st.integers(1, 2**24), h=st.integers(1, 2**24))
@settings(max_examples=100, deadline=None)
def test_image_header_roundtrip(w, h):
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", w, h) + b"\x08\x06\x00\x00\x00")
    assert decode_image_header(png) == (w, h, "PNG")
    if w < 2**16 and h < 2**16:
        gif = b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6
        assert decode_image_header(gif) == (w, h, "GIF")
        jpg = (b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
               + b"\x00" * 9 + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
               + struct.pack(">HH", h, w) + b"\x01\x11\x00")
        assert decode_image_header(jpg) == (w, h, "JPEG")


_json_leaf = st.one_of(st.integers(), st.text(max_size=5), st.booleans())


@given(
    path=st.lists(_ident, min_size=1, max_size=4),
    items=st.lists(st.dictionaries(_ident, _json_leaf, max_size=3), max_size=4),
)
@settings(max_examples=100, deadline=None)
def test_extract_data_path_navigates_any_depth(path, items):
    payload = items
    for key in reversed(path):
        payload = {key: payload}
    assert extract_data_path(payload, ".".join(path)) == items
    # a wrong path never raises — returns []
    assert extract_data_path(payload, ".".join(path) + ".nope") == []


# ---------------------------------------------------- connected components


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=8, deadline=None)
def test_connected_components_paths_agree(edges):
    """The driver union-find fast path and the distributed hash-min loop
    must produce identical clusters for ANY random graph (self-loops and
    duplicate edges included), and cluster ids must be the component
    minima (cross-checked against a reference BFS closure)."""
    from metadata_etl_framework_spark.ops.dedup import connected_components
    from metadata_etl_framework_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r.node, r.cluster_id, r.is_canonical)
            for r in connected_components(pairs).collect()}
    # hypothesis rejects function-scoped fixtures, so no monkeypatch
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
        dist = {(r.node, r.cluster_id, r.is_canonical)
                for r in connected_components(pairs).collect()}
    assert fast == dist

    # reference closure: BFS over the undirected graph
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seen: set[int] = set()
    expect = set()
    for start in adj:
        if start in seen:
            continue
        comp, stack = set(), [start]
        while stack:
            x = stack.pop()
            if x in comp:
                continue
            comp.add(x)
            stack.extend(adj[x] - comp)
        seen |= comp
        lo = min(comp)
        expect |= {(n, lo, n == lo) for n in comp}
    assert fast == expect


# ------------------------------------------------------- weighted sampling


@given(
    weights=st.lists(st.integers(1, 50), min_size=5, max_size=25),
    k=st.integers(1, 8),
)
@settings(max_examples=6, deadline=None)
def test_weighted_sample_matches_reference_priorities(weights, k):
    """The distributed top-k must equal a brute-force recomputation of
    the A-ES priorities (md5-uniform, round-9, md5 tiebreak) in Python —
    pinning both the determinism and the exact selection rule."""
    import hashlib

    from metadata_etl_framework_spark.ops.corpus import weighted_sample
    from metadata_etl_framework_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    rows = [(i, float(w)) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = {r.id for r in
           weighted_sample(df, k=k, weight_col="w", hash_cols=["id"],
                           salt="px").collect()}

    def priority(i, w):
        h = hashlib.md5(f"px|{i}".encode()).hexdigest()
        u = (int(h[:8], 16) + 1.0) / 4294967296.0
        return (round(u ** (1.0 / w), 9), [-ord(c) for c in h])

    expect = sorted(rows, key=lambda t: priority(*t), reverse=True)[:k]
    assert got == {i for i, _ in expect}


@pytest.mark.nightly
@given(
    a=st.lists(st.floats(-100, 100, allow_nan=False), min_size=2, max_size=60),
    b=st.lists(st.floats(-120, 120, allow_nan=False), min_size=2, max_size=60),
    bins=st.integers(2, 40),
)
@settings(max_examples=4, deadline=None)
def test_binned_ks_and_emd_bracket_property(a, b, bins):
    """For ANY two samples and ANY binning: D_binned <= D_exact <=
    D_binned + err_bound, and |W1_binned - W1_exact| <= its err_bound —
    the round-7 guarantees, property-swept."""
    from metadata_etl_framework_spark.quality.drift import emd_1d, ks_statistic
    from metadata_etl_framework_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    da = spark.createDataFrame([(float(v),) for v in a], "x double")
    db = spark.createDataFrame([(float(v),) for v in b], "x double")
    ek = ks_statistic(da, db, "x").collect()[0]
    bk = ks_statistic(da, db, "x", n_bins=bins).collect()[0]
    assert bk.ks_stat <= ek.ks_stat + 1e-9
    assert ek.ks_stat <= bk.ks_stat + bk.err_bound + 1e-9

    ee = emd_1d(da, db, "x").collect()
    be = emd_1d(da, db, "x", n_bins=bins).collect()
    if ee and be:  # single-support-point inputs return empty on both
        assert abs(be[0].emd - ee[0].emd) <= be[0].err_bound + 1e-6
    else:
        assert bool(ee) == bool(be)


@given(
    n=st.integers(2, 40),
    k=st.integers(1, 10),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=8, deadline=None)
def test_ntile_assign_matches_window_property(spark, n, k, seed):
    """Round-8 property: ntile_assign's closed form == the NTILE window
    for any (n, k) and any value permutation (unique tie-break)."""
    from pyspark.sql import Window

    from metadata_etl_framework_spark.functions.aggregations import (
        ntile_assign,
    )

    rows = [(i, float((i * 2654435761 + seed) % 1000)) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = {r.id: r.bucket for r in ntile_assign(df, ["v", "id"], k).collect()}
    want = {r.id: r.nt for r in df.select(
        "id", F.ntile(k).over(Window.orderBy("v", "id")).alias("nt")
    ).collect()}
    assert got == want


@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=25,
    ),
    p=st.sampled_from([0.1, 0.25, 0.5, 0.75, 0.9, 1.0]),
)
@settings(max_examples=8, deadline=None)
def test_weighted_quantile_unit_weights_is_type1(spark, vals, p):
    """Round-8 property: with unit weights, weighted_quantile reduces to
    the type-1 (lower) quantile — smallest v with cum count >= p·n."""
    from metadata_etl_framework_spark.functions.aggregations import (
        weighted_quantile,
    )

    df = spark.createDataFrame([(v, 1.0) for v in vals], "v double, w double")
    got = weighted_quantile(df, "v", "w", (p,)).first()["value"]
    s = sorted(vals)
    import math

    want = s[max(0, math.ceil(p * len(s)) - 1)]
    assert got == want


@given(shift_at=st.integers(5, 55), seed=st.integers(0, 100))
@settings(max_examples=8, deadline=None)
def test_changepoint_recovers_any_split(spark, shift_at, seed):
    """Round-8 property: a clean level shift at ANY position is
    recovered exactly by the CUSUM argmax."""
    from metadata_etl_framework_spark.quality.anomaly import (
        changepoint_mean_shift,
    )

    lo, hi = float(seed % 7), float(seed % 7 + 5)
    rows = [(i, lo if i < shift_at else hi) for i in range(60)]
    df = spark.createDataFrame(rows, "t long, v double")
    r = changepoint_mean_shift(df, ["t"], "v").first()
    assert r.split_after == shift_at
    assert (r.mean_before, r.mean_after) == (lo, hi)


def test_pagerank_mass_conservation(spark):
    """Round-8: with no dangling nodes total rank mass is exactly 1 per
    iteration; adding a dangling node makes mass decay toward the
    teleport share (documented semantics)."""
    from metadata_etl_framework_spark.ops.graph import pagerank

    ring = spark.createDataFrame(
        [(str(i), str((i + 1) % 6), 1.0) for i in range(6)],
        "src string, dst string, w double",
    )
    total = pagerank(ring, iterations=4, weight_col="w").agg(
        F.sum("rank")
    ).first()[0]
    # each output rank is rounded to 6dp, so the sum may be off by up
    # to n/2 ulps of 1e-6
    assert abs(total - 1.0) <= 6e-6

    dangling = ring.unionByName(spark.createDataFrame(
        [("0", "sink", 1.0)], "src string, dst string, w double"
    ))
    total_d = pagerank(dangling, iterations=4, weight_col="w").agg(
        F.sum("rank")
    ).first()[0]
    assert total_d < 1.0
