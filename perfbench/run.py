"""Pipeline benchmark for metadata_etl_framework_spark.

Runs one seeded workload through the public ``OrchestratorManager`` API
on ``local[4]``: one client in a closed loop, each operation starting when
the previous one returned, for ``--seconds``. Every operation's output is
checked; a failed check counts as a failed operation.

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
layers' public entry points (see spans.py), turns on an uncompressed
Spark event log, alternates traced and untraced operations, and prints
per-layer metrics plus the tracing overhead. Human-readable lines come
first; the last line of standard output is one JSON object.

All inputs, outputs and Spark scratch files live under ``.perfbench/`` in
the checkout, which is removed at the start of each run.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import traceback
from pathlib import Path
from time import perf_counter

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
MASTER = "local[4]"
# input generation + catalog registration is repeated; setup_s takes the median
SETUP_REPEATS = 3
TAIL_BEYOND = 10

sys.path.insert(0, str(HERE))
import eventlog  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS, describe  # noqa: E402


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def import_program() -> None:
    """Import the package from this checkout, and only from here."""
    sys.path.insert(0, str(ROOT))
    import metadata_etl_framework_spark as pkg

    if ROOT not in Path(pkg.__file__).resolve().parents:
        raise ImportError(f"metadata_etl_framework_spark imported from {pkg.__file__}, "
                          f"not from {ROOT}")


def start_spark(trace: bool):
    from metadata_etl_framework_spark.session import get_spark

    tmp = WORK / "tmp"
    conf = {
        # a fixed-size heap, so that peak RSS does not follow the GC's
        # heap-growth decisions from run to run
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # C1 only: with the C2 tier the driver JVM keeps compiling Catalyst
        # code for 30+ operations, and the speed it settles at differs by up
        # to 1.5x between JVM launches; C1 settles within a few operations
        "spark.driver.extraJavaOptions": f"-Xms1g -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}",
    }
    if trace:
        (WORK / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (WORK / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    proc = spark.sparkContext._gateway.proc
    jvm_kb = 0
    for line in Path(f"/proc/{proc.pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and every process below
    it: this process, the driver JVM and Spark's Python workers. Reaped
    children count through their parent's cutime and cstime. Unlike wall
    time, this leaves out the time the host takes the CPUs away (steal)."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            text = stat.read_text()
        except OSError:  # the process ended while we looked
            continue
        f = text[text.rindex(")") + 2:].split()
        pid = int(stat.parent.name)
        children.setdefault(int(f[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in f[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def catalog_rows(store) -> int:
    tables = [r[0] for r in store.conn.execute(
        "SELECT name FROM sqlite_master WHERE type='table' AND name NOT LIKE 'sqlite_%'")]
    return sum(store.conn.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0] for t in tables)


def tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    TAIL_BEYOND samples beyond it, when that is p90 or above. A shorter
    window has no such percentile, and then the maximum is reported: a
    switch between the two at some window length would make the metric
    jump whenever the machine's speed moves the operation count across it."""
    ordered = sorted(times)
    k = len(ordered) - TAIL_BEYOND - 1
    pct = 100.0 * (k + 1) / len(ordered)
    if pct < 90.0:
        return ordered[-1], 100.0
    return ordered[k], pct


class Bench:
    """Runs and checks operations, and counts the failed ones."""

    def __init__(self, workload):
        self.workload = workload
        self.attempted = 0
        self.failed = 0
        self.state: dict = {}

    def run_op(self, orch, pid, inputs, out) -> tuple[float, float, bool]:
        """One operation plus its check: (seconds the operation took, CPU
        seconds it used, whether it returned and its output was correct)."""
        self.attempted += 1
        c0 = tree_cpu_s(os.getpid())
        t0 = perf_counter()
        try:
            result = self.workload.operate(orch, pid)
        except Exception:  # noqa: BLE001 - a failed operation is a result
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return perf_counter() - t0, tree_cpu_s(os.getpid()) - c0, False
        elapsed = perf_counter() - t0
        cpu_s = tree_cpu_s(os.getpid()) - c0
        problem = self.workload.check(result, inputs, out, self.state, orch)
        if problem:
            self.failed += 1
            print(f"check failed: {problem}", file=sys.stderr)
        return elapsed, cpu_s, not problem


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    try:
        import_program()
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    from metadata_etl_framework_spark.catalog.store import MetadataStore
    from metadata_etl_framework_spark.orchestrator.manager import OrchestratorManager

    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")] + [
            "SPARK_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEMORY"]:
        os.environ.pop(var, None)
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "data", "out"):
        (WORK / d).mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(WORK / "tmp")
    trace = bool(args.trace)
    wl = WORKLOADS[args.workload]
    bench = Bench(wl)
    data, out = WORK / "data", WORK / "out"

    t0 = perf_counter()
    spark = start_spark(trace)
    session_s = perf_counter() - t0
    try:
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = perf_counter()
            shutil.rmtree(data, ignore_errors=True)
            inputs = wl.generate(data, args.seed)
            store = MetadataStore()
            pid = wl.register(store, inputs, out)
            gen_s.append(perf_counter() - t0)
        orch = OrchestratorManager(spark, store)
        warmup = [bench.run_op(orch, pid, inputs, out)[0] for _ in range(wl.warmup)]
        setup_s = session_s + statistics.median(gen_s) + sum(warmup)
        rows_start = catalog_rows(store)

        tracer = None
        if trace:
            tracer = spans.Tracer(spark.sparkContext)
            tracer.install(spans.entry_points())
        timed: list[float] = []
        cpu: list[float] = []
        traced_ops: dict[int, float] = {}
        untraced: list[float] = []
        deadline = perf_counter() + args.seconds
        i = 0
        while i == 0 or perf_counter() < deadline:
            traced = tracer is not None and i % 2 == 0
            if tracer is not None:
                tracer.op = i if traced else None
            elapsed, cpu_s, ok = bench.run_op(orch, pid, inputs, out)
            if ok:
                timed.append(elapsed)
                cpu.append(cpu_s)
                if traced:
                    traced_ops[i] = elapsed
                elif tracer is not None:
                    untraced.append(elapsed)
            i += 1
        if tracer is not None:
            tracer.op = None
            tracer.uninstall()
        rows_end = catalog_rows(store)
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    ops = i
    print(f"workload {wl.name} seed {args.seed}: {describe(inputs)}; "
          f"{ops} operations in the window, {wl.warmup} warm-up, {bench.failed} failed")
    print(f"set-up: session {session_s:.2f} s, inputs + catalog {statistics.median(gen_s):.2f} s "
          f"(median of {SETUP_REPEATS}), warm-up operations "
          f"{' '.join(f'{w:.2f}' for w in warmup)} s")
    print(f"catalog rows: {rows_start} after set-up, {rows_end} at end "
          f"({(rows_end - rows_start) / max(ops, 1):.1f} per operation)")
    if not timed:
        print("no operation succeeded", file=sys.stderr)
        metrics = {}
    elif trace:
        metrics = layer_metrics(tracer, traced_ops, untraced, inputs, rows_end)
    else:
        tail_s, pct = tail(timed)
        print(f"run_tail_s is p{pct:.0f} of {len(timed)} operations; all: "
              f"{' '.join(f'{t:.2f}' for t in timed)} s; CPU: "
              f"{' '.join(f'{c:.2f}' for c in cpu)} s")
        # Wall-clock figures, printed but kept out of the JSON line: on a
        # shared host they move by 15-40% between runs of the same code, with
        # the time the host takes the CPUs away (see README.md, "Steadiness").
        # run_tail_s is one operation's time, because a window holds too few
        # operations for a percentile with ten beyond it. failed_frac reads 0
        # on a correct run; the JSON line carries it as attempted/failed.
        for name, value, unit in (
                ("run_p50_s", statistics.median(timed), "s"),
                ("run_tail_s", tail_s, "s"),
                ("rows_per_s", inputs.rows * len(timed) / sum(timed), "1/s"),
                ("failed_frac", bench.failed / bench.attempted, "ratio")):
            print(f"{name} {value:.6g} {unit}")
        metrics = {
            "cpu_p50_s": (statistics.median(cpu), "s"),
            "peak_rss_mb": (rss, "MB"),
            "setup_s": (setup_s, "s"),
        }
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": bench.failed == 0 and bool(timed),
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


def layer_metrics(tracer, traced_ops: dict[int, float], untraced: list[float], inputs,
                  rows_end: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the spans and the event log, per traced
    operation: counts are means, times are medians."""
    counters = eventlog.read(WORK / "eventlog")
    self_s = spans.self_times(tracer.spans)
    per_op: dict[int, dict[str, float]] = {op: {} for op in traced_ops}

    def add(op: int, key: str, value: float) -> None:
        per_op[op][key] = per_op[op].get(key, 0.0) + value

    op_groups: dict[int, list] = {op: [] for op in traced_ops}
    layer_stage_ms: dict[tuple[int, str], dict] = {}
    for s in tracer.spans:
        if s.op not in per_op:
            continue
        add(s.op, f"{s.layer}.calls", 1)
        add(s.op, f"{s.layer}.self_s", self_s[s.span_id])
        g = counters.get(spans.group_of(s.span_id))
        if g is None:
            continue
        op_groups[s.op].append(g)
        add(s.op, f"{s.layer}.jobs", g.jobs)
        for key, value in (("tasks", g.tasks), ("shuffle_write_mb", g.shuffle_write_bytes / 1e6),
                           ("input_mb", g.input_bytes / 1e6),
                           ("spill_mb", g.spill_bytes / 1e6),
                           ("executor_cpu_s", g.executor_cpu_s), ("gc_s", g.gc_s)):
            add(s.op, f"{s.layer}.{key}", value)
        layer_stage_ms.setdefault((s.op, s.layer), {}).update(g.stage_task_ms)
    for op, wall in traced_ops.items():
        groups = op_groups[op]
        for layer in ("sources.write", "quality", "ops"):
            add(op, f"{layer}.task_skew",
                eventlog.task_skew(layer_stage_ms.get((op, layer), {})))
        add(op, "spark.jobs_per_op", sum(g.jobs for g in groups))
        add(op, "spark.stages_per_op", sum(g.stages for g in groups))
        add(op, "spark.tasks_per_op", sum(g.tasks for g in groups))
        add(op, "spark.failed_tasks", sum(g.failed_tasks for g in groups))
        in_jobs = spans.union_length(
            (a / 1e3, b / 1e3) for g in groups for a, b in g.job_intervals)
        add(op, "driver_s", wall - in_jobs)
        # records, not bytes: Spark's local parquet reads report only part
        # of the bytes they read, so a byte ratio is not comparable
        add(op, "scan_amplification", sum(g.input_records for g in groups) / inputs.rows)

    def median(key: str) -> float:
        return statistics.median(m.get(key, 0.0) for m in per_op.values())

    def mean(key: str) -> float:
        return statistics.fmean(m.get(key, 0.0) for m in per_op.values())

    metrics: dict[str, tuple[float, str]] = {}
    for layer in spans.LAYERS:
        metrics[f"{layer}.calls"] = (mean(f"{layer}.calls"), "count")
        metrics[f"{layer}.self_s"] = (median(f"{layer}.self_s"), "s")
        metrics[f"{layer}.jobs"] = (mean(f"{layer}.jobs"), "count")
    for layer in ("sources.write", "quality", "ops"):
        metrics[f"{layer}.tasks"] = (mean(f"{layer}.tasks"), "count")
        for key, unit in (("shuffle_write_mb", "MB"), ("input_mb", "MB"), ("spill_mb", "MB"),
                          ("executor_cpu_s", "s"), ("gc_s", "s")):
            metrics[f"{layer}.{key}"] = (median(f"{layer}.{key}"), unit)
        metrics[f"{layer}.task_skew"] = (median(f"{layer}.task_skew"), "ratio")
    for key in ("spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op"):
        metrics[key] = (mean(key), "count")
    metrics["spark.failed_tasks"] = (sum(m.get("spark.failed_tasks", 0.0)
                                         for m in per_op.values()), "count")
    metrics["driver_s"] = (median("driver_s"), "s")
    metrics["scan_amplification"] = (median("scan_amplification"), "ratio")
    metrics["catalog.rows_end"] = (float(rows_end), "count")
    traced_med = statistics.median(traced_ops.values())
    base = statistics.median(untraced) if untraced else traced_med
    metrics["trace.overhead_pct"] = (100.0 * (traced_med / base - 1.0), "%")
    print(f"tracing overhead: traced median {traced_med:.4f} s over {len(traced_ops)} ops vs "
          f"untraced median {base:.4f} s over {len(untraced)} ops, same session")
    return metrics


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
