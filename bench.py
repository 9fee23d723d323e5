#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "total_query_time", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Each query is forced with a noop-format write so the full plan executes
(scan → shuffle → sink) without driver-collect overhead skewing the
numbers. One shared SparkSession amortizes JVM startup (BASELINE.md notes
startup latency dominates at this scale, so never pay it per query).
"""

from __future__ import annotations

import json
import os
import re
import time

from metadata_etl_framework_spark.session import get_spark

import __spark_entry__ as entry_mod
from driver_keys import tagged

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family — scan+agg, joins, windows,
# set-ops, DQ single-pass, anomaly, sessionization, text, dedup, ANN.
# A key joins it with the "headline" tag on its registry record.
HEADLINE = tagged("headline")

# NOTE (r16): a 3-slice sampled "stable tier" (r15 verdict task 7) was
# prototyped here and REVERTED before close — the optimization-round
# contract requires every existing bench entry to appear in every
# round's "queries" map (entries may be added, never removed), so all
# headline keys run every round. The fixed-cost concern is addressed by
# making the queries themselves faster instead.

# Gate-OFF measurement arm (r17, per the r16 verdict's top task): every
# headline key whose operator chain carries a bounded driver fast path
# (a *_DRIVER_MAX_* twin gate) is re-timed min-of-N with
# SPARK_GRAFT_DRIVER_GATE=0 — the twins skipped, the DISTRIBUTED arms
# executing — and the numbers land in the artifact's "gate_off" block.
# At sf0.1 the twins make these keys single-digit-millisecond
# LocalTableScan plans; the gate-off column is the cost of the code
# that actually runs at fact scale, and it is what optimization rounds
# target. Results are identical either way (the twins are bit-exact);
# only the execution venue changes, so this is measurement, not a
# second query set — the headline "queries" map is untouched. A key
# joins the arm with the "gated" tag on its registry record.
DRIVER_GATED = tagged("gated")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Ambient-noise anchor (r13 verdict task 2, widened r15 per r14 task 2):
# a fixed 5-query canary subset re-timed at session START, every
# CANARY_EVERY headline positions, and END. The box this bench runs on
# carries ambient load that inflated three consecutive driver rounds
# (r11 1.37×, r13 1.25× shared-query medians) while controlled builder
# A/Bs on the same code measured 0.77–1.08×; the probes put the evidence
# INSIDE the artifact: identical work timed repeatedly through the
# session. The r14 three-point (start/middle/end) variant could not see
# mid-run bursts — positions 103–111 inflated together with no probe
# within 40 positions — so probes now land every ~25 queries. If a probe
# drifts, the box drifted around that position — divide round-over-round
# ratios by the local drift before reading them as regressions. Each
# probe is min-of-2 back-to-back runs (one recompile-absorbing run + one
# hot run) so every probe pays the same codegen protocol even after the
# 100-entry whole-stage-codegen cache evicts between probes.
CANARY = [
    "q1_pricing_summary",
    "join_inner",
    "dq_suite",
    "minhash_near_dups",
    "glm_logit_orders",
]
CANARY_EVERY = 25


def _probe_canary(spark, queries) -> dict[str, float]:
    probe: dict[str, float] = {}
    for name in CANARY:
        best = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            _force(queries[name](spark, SF_DIR))
            best = min(best, time.monotonic() - t0)
        probe[name] = round(best, 3)
    return probe


def _retime_trigger(first: float, base: float) -> bool:
    """Re-time trigger (r15 verdict task 4): the flat 1.5× threshold
    let 1.17–1.21× moves on 6–8 s keys escape classification, so slow
    keys get a tighter trip wire — any query ≥ 3 s (either round's
    number) that moved ≥ 1.2×, plus the original 1.5× anywhere."""
    ratio = first / base
    return ratio > 1.5 or (ratio > 1.2 and max(first, base) >= 3.0)


def detail_target(sf: float, cpus: int, root: str = ".") -> tuple:
    """(round, default detail path) for a run at (sf, cpus).

    The newest ``BENCH_r{N}.json`` record fixes the configuration of
    record. A run with the same (sf, cpus) is round N+1's primary run
    and writes ``BENCH_DETAIL_r{N+1}.json``. A run with any other
    (sf, cpus) is a secondary run of round N — it never takes the next
    round's name — and writes ``BENCH_DETAIL_r{N}_c{cpus}.json``, with
    an ``_sf{sf}`` infix when the scale differs too. With no record
    the run is round 1's primary run."""
    records = {
        int(m.group(1)): f
        for f in os.listdir(root)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
    }
    if not records:
        return 1, "BENCH_DETAIL_r1.json"
    n = max(records)
    try:
        with open(os.path.join(root, records[n])) as f:
            rec = json.load(f)
        rec_cfg = (rec.get("sf"), rec.get("cpus"))
    except (OSError, ValueError):
        rec_cfg = (None, None)
    if rec_cfg == (sf, cpus):
        return n + 1, f"BENCH_DETAIL_r{n + 1}.json"
    infix = "" if rec_cfg[0] == sf else f"_sf{sf}"
    return n, f"BENCH_DETAIL_r{n}{infix}_c{cpus}.json"


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    this_round, default_detail = detail_target(sf, cpus)
    spark = get_spark(app_name="bench")
    queries = {**entry_mod.queries(), **entry_mod.extra_queries()}

    # every headline key runs every round (the optimization-round
    # contract: entries may be added to "queries", never removed)
    run_set = list(HEADLINE)

    # warm the JVM + file-listing caches on a trivial plan so the first
    # measured query doesn't absorb one-time session costs
    _force(spark.read.parquet(f"{SF_DIR}/region.parquet"))

    # min of N BACK-TO-BACK runs per query: the min is the reproducible
    # cost of the plan with hot codegen and (plan-deduped) caches — the
    # comparable number round-over-round. Interleaved round-robin
    # passes were measured (r10) and rejected: with 60 queries the
    # whole-stage-codegen cache (default 100 entries) evicts between
    # passes, so every pass recompiles every query and the "min"
    # inflates a structural ~1.5x. Residual round-to-round swings on
    # untouched queries are ambient box noise — judge deltas against
    # the MEDIAN ratio over all queries, not any single query.
    # (set SPARK_GRAFT_BENCH_RUNS=1 for single-shot timing)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # Controlled measurement arms (r12 verdict task 2 — reconcile the
    # driver-vs-builder bench gap):
    #   SPARK_GRAFT_BENCH_FRESH_EVERY=N  → stop + rebuild the
    #     SparkSession every N queries, isolating batched-session state
    #     (codegen cache, accumulated temp state, heap fragmentation)
    #     from ambient box load as the inflation cause.
    #   SPARK_GRAFT_BENCH_HYGIENE=1      → after each query's min-of-N,
    #     clear the SQL cache and request a JVM GC so leaked cached
    #     frames from one query can't tax the next one's timing.
    fresh_every = int(os.environ.get("SPARK_GRAFT_BENCH_FRESH_EVERY", "0"))
    hygiene = os.environ.get("SPARK_GRAFT_BENCH_HYGIENE", "0") == "1"
    timings: dict[str, float] = {}
    # untimed canary warmup: the START probe must not absorb first-ever
    # session costs (file-listing caches, codegen compiles) or the
    # drift ratios read "warmed up" instead of "box drifted" — the
    # smoke run without this measured start/middle drift 0.51 on an
    # idle box, which is warm-up, not ambient load
    for name in CANARY:
        _force(queries[name](spark, SF_DIR))
    canary = {"start": _probe_canary(spark, queries)}
    probe_pos = {"start": 0}
    qpos: dict[str, int] = {}
    for qi, name in enumerate(run_set):
        if fresh_every and qi and qi % fresh_every == 0:
            spark.stop()
            spark = get_spark(app_name="bench")
            _force(spark.read.parquet(f"{SF_DIR}/region.parquet"))
        if qi and qi % CANARY_EVERY == 0:
            canary[f"q{qi}"] = _probe_canary(spark, queries)
            probe_pos[f"q{qi}"] = qi
        fn = queries[name]
        best = float("inf")
        for _ in range(runs):
            t0 = time.monotonic()
            _force(fn(spark, SF_DIR))
            best = min(best, time.monotonic() - t0)
        timings[name] = round(best, 3)
        qpos[name] = qi
        if hygiene:
            spark.catalog.clearCache()
            spark._jvm.System.gc()
    canary["end"] = _probe_canary(spark, queries)
    probe_pos["end"] = len(HEADLINE)
    # per-probe median ratio vs the start probe: a per-position
    # ambient-drift ladder for the round-over-round compare
    drift: dict[str, float] = {}
    for key in probe_pos:
        if key == "start":
            continue
        r = sorted(
            canary[key][q] / canary["start"][q]
            for q in CANARY
            if canary["start"][q] > 0
        )
        if r:
            drift[key] = round(r[len(r) // 2], 3)
    canary["drift"] = drift

    # Prior-round baseline for regression flags + auto re-time (same SF
    # only; informational — never changes the exit code).
    baseline_path = os.environ.get("SPARK_GRAFT_BENCH_BASELINE")
    if baseline_path is None:
        # Prefer the DETAIL files — the driver's BENCH_r{N}.json is a
        # wrapper (n/rc/tail/parsed around the SHORT summary line, no
        # per-query map); the full timings live in BENCH_DETAIL_r{N}.json.
        # Numeric round sort: lexicographic would put r10 before r2.
        # r16 verdict task 2: the baseline is the PREVIOUS round's
        # artifact of record — never a file from THIS round (during a
        # driver session the newest detail file is the builder's own
        # same-round run, so "newest" made the comparison
        # self-referential and every vs-prev mover escaped the retime
        # adjudication in r16).
        candidates = sorted(
            (
                f
                for f in os.listdir(".")
                if re.fullmatch(r"BENCH_DETAIL_r\d+\.json", f)
                or re.fullmatch(r"BENCH_r\d+\.json", f)
            ),
            key=lambda f: (
                int(re.search(r"r(\d+)", f).group(1)),
                "DETAIL" in f,  # detail wins within a round
            ),
        )
        candidates = [
            f
            for f in candidates
            if int(re.search(r"r(\d+)", f).group(1)) < this_round
        ]
        baseline_path = candidates[-1] if candidates else None
    base_queries: dict[str, float] = {}
    if baseline_path and os.path.exists(baseline_path):
        try:
            with open(baseline_path) as f:
                base = json.load(f)
            # unwrap the driver format: {parsed: {...}} or nested detail
            if "queries" not in base and isinstance(base.get("parsed"), dict):
                base = base["parsed"]
            if (
                "queries" not in base
                and base.get("detail")
                and os.path.exists(base["detail"])
            ):
                with open(base["detail"]) as f:
                    base = json.load(f)
            if base.get("sf") == sf:
                base_queries = base.get("queries", {}) or {}
        except (OSError, ValueError, KeyError):
            base_queries = {}

    # Auto re-time (r14 verdict task 2): any query that finished >1.5×
    # its prior-round time gets a min-of-3 re-run HERE, at session end,
    # and BOTH numbers land in the artifact — so every >1.5× mover is
    # classified in-round as ambient (re-time recovered / canary probe
    # near its position drifted) or real, instead of costing a round of
    # verdict litigation. "queries" carries the better number (the
    # reproducible cost); "retimed" preserves the first run.
    retimed: dict[str, dict] = {}
    for q, first in list(timings.items()):
        b = base_queries.get(q, 0)
        if not b or not _retime_trigger(first, b):
            continue
        best = float("inf")
        for _ in range(3):
            t0 = time.monotonic()
            _force(queries[q](spark, SF_DIR))
            best = min(best, time.monotonic() - t0)
        best = round(best, 3)
        near = min(probe_pos, key=lambda k: abs(probe_pos[k] - qpos[q]))
        near_drift = drift.get(near, 1.0)
        if not _retime_trigger(best, b):
            verdict = "ambient_retime_recovered"
        elif near_drift >= 1.3:
            verdict = "ambient_canary_correlated"
        else:
            verdict = "real"
        retimed[q] = {
            "first": first,
            "retimed": best,
            "ratio_first": round(first / b, 2),
            "ratio_retimed": round(best / b, 2),
            "nearest_probe": near,
            "nearest_probe_drift": near_drift,
            "verdict": verdict,
        }
        timings[q] = min(first, best)

    # Gate-OFF arm: min-of-N per driver-gated key with the twins
    # disabled (see DRIVER_GATED above). Runs AFTER the headline
    # block + retimes so it cannot perturb them; restores the env
    # either way. SPARK_GRAFT_BENCH_GATEOFF_RUNS=0 skips the arm.
    gateoff_runs = int(
        os.environ.get("SPARK_GRAFT_BENCH_GATEOFF_RUNS", "3")
    )
    gate_off: dict[str, float] = {}
    if gateoff_runs > 0:
        os.environ["SPARK_GRAFT_DRIVER_GATE"] = "0"
        try:
            for name in DRIVER_GATED:
                fn = queries.get(name)
                if fn is None:
                    continue
                best = float("inf")
                for _ in range(gateoff_runs):
                    t0 = time.monotonic()
                    _force(fn(spark, SF_DIR))
                    best = min(best, time.monotonic() - t0)
                gate_off[name] = round(best, 3)
        finally:
            os.environ.pop("SPARK_GRAFT_DRIVER_GATE", None)

    out = {
        "metric": "total_query_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "canary": canary,
    }
    if gate_off:
        out["gate_off"] = gate_off
    if retimed:
        out["retimed"] = retimed

    if base_queries:
        regressions = {
            q: round(timings[q] / base_queries[q], 2)
            for q in timings
            if base_queries.get(q, 0) > 0
            and timings[q] / base_queries[q] > 1.5
        }
        if regressions:
            out["regressions_vs_" + baseline_path] = regressions

    # Full per-query detail goes to a file (the driver's stdout
    # tail-capture window truncated the 74-query line in r10 —
    # "parsed": null), and stdout ends with a SHORT summary line so the
    # tail always contains parseable totals regardless of query count.
    # A sanity run at another SF or the low-core scaling run gets a
    # suffixed name from detail_target, so it never overwrites the
    # round's artifact of record; a same-config re-run updates it.
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL", default_detail)
    detail_ok = True
    try:
        with open(detail_path, "w") as f:
            json.dump(out, f, indent=1)
    except OSError:
        detail_ok = False
    if not detail_ok:
        # fall back to stdout so the per-query map is never lost
        print(json.dumps(out))
    # the short summary line carries the canary triplets too — it is the
    # line the driver's tail-capture is guaranteed to keep, and the
    # noise anchor is useless if it gets truncated out of the artifact.
    # Stdout carries ONLY this line when the detail file wrote (the r15
    # artifact's tail held the summary twice — full-out + summary both
    # landed in the capture window). The per-query map rides this line
    # as well: round-over-round comparisons read "queries" from it, and
    # without it they record an empty per_query.
    summary = {
        "metric": "total_query_time",
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "queries": timings,
        "detail": detail_path,
        "canary": canary,
    }
    # the distributed-arm costs belong on the line of record too —
    # they are what the optimization rounds are judged against
    if gate_off:
        summary["gate_off"] = gate_off
    # the trigger-tripped mover classifications belong in the line of
    # record too — they are the evidence the round compare needs
    if retimed:
        summary["retimed"] = retimed
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
