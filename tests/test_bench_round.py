"""bench.py's detail-file naming: a run takes the next round's name only
when its (sf, cpus) matches the newest ``BENCH_r{N}.json`` record;
any other configuration is a secondary run of round N. No Spark."""

from __future__ import annotations

import json

from bench import detail_target


def _record(root, name, sf, cpus):
    (root / name).write_text(json.dumps({"n": 0, "sf": sf, "cpus": cpus}))


def test_no_record_is_round_one(tmp_path):
    assert detail_target(0.1, 32, str(tmp_path)) == (
        1, "BENCH_DETAIL_r1.json"
    )


def test_secondary_run_keeps_the_round(tmp_path):
    # r9 sorts after r17 as a string: the newest record is numeric
    _record(tmp_path, "BENCH_r9.json", 0.01, 8)
    _record(tmp_path, "BENCH_r17.json", 0.1, 32)
    # suffixed files are secondary records, never the round of record
    _record(tmp_path, "BENCH_r17_c8.json", 0.1, 8)
    root = str(tmp_path)
    assert detail_target(0.1, 32, root) == (18, "BENCH_DETAIL_r18.json")
    assert detail_target(0.1, 8, root) == (17, "BENCH_DETAIL_r17_c8.json")
    assert detail_target(0.001, 8, root) == (
        17, "BENCH_DETAIL_r17_sf0.001_c8.json"
    )
    assert detail_target(0.001, 32, root) == (
        17, "BENCH_DETAIL_r17_sf0.001_c32.json"
    )


def test_unreadable_record_is_secondary(tmp_path):
    (tmp_path / "BENCH_r5.json").write_text("not json")
    assert detail_target(0.1, 32, str(tmp_path)) == (
        5, "BENCH_DETAIL_r5_sf0.1_c32.json"
    )
