"""AST-level lint gate: no shadowed definitions, no unpaired persists.

Round 8 shipped a duplicate top-level ``oov_rate`` def whose second copy
silently shadowed the first. This test parses (never imports) every
package module, every ``driver_keys`` family module and
``__spark_entry__.py`` and asserts that no module defines the same
top-level function/class name twice. (A query key registered twice
needs no lint: ``driver_keys.registry.register`` raises at import.)

Pure-source analysis, so it runs in milliseconds with no SparkSession.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "metadata_etl_framework_spark"
KEYS = REPO / "driver_keys"

MODULES = (
    sorted(PKG.rglob("*.py"))
    + sorted(KEYS.glob("*.py"))
    + [REPO / "__spark_entry__.py"]
)


def _shadowed_defs(source: str, filename: str) -> dict[str, int]:
    tree = ast.parse(source, filename=filename)
    names = Counter(
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    )
    return {n: c for n, c in names.items() if c > 1}


@pytest.mark.parametrize(
    "path", MODULES, ids=[str(p.relative_to(REPO)) for p in MODULES]
)
def test_no_duplicate_top_level_defs(path: Path):
    dups = _shadowed_defs(path.read_text(), str(path))
    assert not dups, f"{path}: shadowed top-level defs {dups}"


def test_duplicate_def_lint_sees_family_modules():
    """The lint covers every family module, and a def pasted twice into
    one is caught."""
    families = {p.name for p in MODULES if p.parent == KEYS}
    assert {"common.py", "graph.py", "relational.py"} <= families
    path = KEYS / "graph.py"
    source = path.read_text()
    tree = ast.parse(source)
    first = next(n for n in tree.body if isinstance(n, ast.FunctionDef))
    pasted = source + "\n\n" + ast.get_source_segment(source, first) + "\n"
    assert _shadowed_defs(pasted, str(path)) == {first.name: 2}


# Functions that persist() a frame and intentionally return a LAZY plan
# referencing it — the cache's lifetime belongs to the caller (or the
# ContextCleaner once references drop), so no in-function release exists.
# Every entry was individually audited (r10 verdict: all bounded frames).
# Package modules are keyed relative to the package, the others relative
# to the repo root.
# Adding a NEW unpaired persist fails this lint until it is either given
# a release (unpersist / the persisted-handles convention) or consciously
# whitelisted here with a reason.
RETURNED_LAZY_PERSISTS = {
    # projection shared by every consumer of the returned lazy frame
    ("functions/joins.py", "range_count"),
    ("ops/dedup.py", "bloom_incremental_dedup"),
    # offsets-correctness cache (see packing.py docstring): released by
    # the ContextCleaner when the returned frame is dropped
    ("ops/packing.py", "global_row_number"),
    ("ops/similarity.py", "embedding_near_dup_pairs"),
    ("ops/similarity.py", "group_diversity"),
    ("ops/text.py", "tfidf_top_terms"),
    ("ops/text.py", "dsir_importance_weights"),
    # the query's narrow events projection, read once by all four
    # detectors of the returned suite
    ("driver_keys/quality.py", "_anomaly_suite"),
}


def test_no_persist_without_paired_release():
    """r10 verdict task 7: the r8 leak class (a persist with no release
    path) must be structurally impossible to reintroduce. Every function
    that calls .persist() must also (a) call .unpersist(), or (b) use the
    persisted-handles convention (a ``persisted``/``handles`` list it
    appends to, receives as a parameter, or forwards as a ``persisted=``
    kwarg — see ops/evaluation.py::_materialize_1row), or (c) be
    whitelisted above as a returned-lazy persist with a documented
    owner."""
    violations = []
    for path in MODULES:
        rel = str(path.relative_to(PKG if PKG in path.parents else REPO))
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            n_persist = n_unpersist = 0
            has_handles = False
            for n in ast.walk(node):
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
                    if n.func.attr == "persist":
                        n_persist += 1
                    elif n.func.attr == "unpersist":
                        n_unpersist += 1
                    elif (
                        n.func.attr == "append"
                        and isinstance(n.func.value, ast.Name)
                        and n.func.value.id in ("persisted", "handles")
                    ):
                        has_handles = True
                if isinstance(n, ast.Call):
                    for kw in n.keywords or []:
                        if kw.arg == "persisted":
                            has_handles = True
            params = {a.arg for a in node.args.args} | {
                a.arg for a in node.args.kwonlyargs
            }
            if params & {"persisted", "handles"}:
                has_handles = True
            if (
                n_persist
                and not n_unpersist
                and not has_handles
                and (rel, node.name) not in RETURNED_LAZY_PERSISTS
            ):
                violations.append(f"{rel}:{node.lineno} {node.name}")
    assert not violations, (
        "persist() without a paired release (unpersist / persisted-handles "
        "convention) and not whitelisted as returned-lazy:\n  "
        + "\n  ".join(violations)
    )


# Iterative operators under ops/ materialize through
# ops/materialize.py::Supersteps, which owns the cadence of the cuts, the
# probe that fills them and the release of superseded generations. A
# localCheckpoint( or checkpoint_leaf( call inside a for/while body is a
# hand-written superstep: its leaves are never released (a local
# checkpoint's blocks are out of Dataset.unpersist()'s reach). ALS and
# the BPE trainer keep persist-only loops and checkpoint once after them,
# so the rule does not reach them.


def _loop_checkpoints(source: str, filename: str) -> list[tuple[str, int]]:
    found = []

    def visit(node, fn, in_loop):
        for child in ast.iter_child_nodes(node):
            # a for loop's iterable runs once; everything else in a
            # for/while (body, test, else) counts as per-round
            loop = in_loop or isinstance(node, (ast.For, ast.While)) and (
                child is not getattr(node, "iter", None)
            )
            if loop and isinstance(child, ast.Call):
                f = child.func
                called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                if called in ("localCheckpoint", "checkpoint_leaf"):
                    found.append((fn, child.lineno))
            if isinstance(child, ast.FunctionDef):
                visit(child, child.name, loop)
            else:
                visit(child, fn, loop)

    visit(ast.parse(source, filename=filename), None, False)
    return found


def test_no_hand_written_supersteps():
    violations = []
    for path in sorted((PKG / "ops").glob("*.py")):
        if path.name == "materialize.py":
            continue
        rel = str(path.relative_to(PKG))
        for fn, line in _loop_checkpoints(path.read_text(), str(path)):
            violations.append(f"{rel}:{line} {fn}")
    assert not violations, (
        "localCheckpoint/checkpoint_leaf inside a loop body — run the loop "
        "through ops/materialize.py::Supersteps:\n  " + "\n  ".join(violations)
    )


def test_superstep_lint_catches_a_per_round_checkpoint():
    pasted = (
        "def peel(cur):\n"
        "    for _ in range(3):\n"
        "        cur = cur.where('d > 1').localCheckpoint()\n"
        "    while cur:\n"
        "        cur, _ = checkpoint_leaf(cur)\n"
        "    return cur.localCheckpoint()\n"
    )
    assert _loop_checkpoints(pasted, "<pasted>") == [("peel", 3), ("peel", 5)]


# Parquet sources under sources/ and orchestrator/ plan through
# sources/file_connector.py::read_files, which hands the reader the
# schema from one footer so that the read runs no schema-inference job.
# Elsewhere there, a parquet read goes around it: a bare `.read.parquet(`,
# a `.format("parquet").load(`, a `.load(` whose format is a variable
# (it may be parquet), or a `.read...load(` with no format (the default
# source, spark.sql.sources.default, is parquet). A format named by a
# class constant (nosql_connector's FORMAT) or another literal is no
# parquet read.
FOOTER_READER = ("sources/file_connector.py", "read_files")


def _is_parquet_read(call: ast.Call) -> bool:
    f = call.func
    if f.attr == "parquet":
        return isinstance(f.value, ast.Attribute) and f.value.attr == "read"
    if f.attr != "load":
        return False
    node = f.value  # the reader chain, outermost call first
    while isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        if node.func.attr == "format":
            arg = node.args[0] if node.args else None
            return isinstance(arg, ast.Name) or (
                isinstance(arg, ast.Constant) and str(arg.value).lower() == "parquet"
            )
        node = node.func.value
    return isinstance(node, ast.Attribute) and node.attr == "read"


def _parquet_reads(source: str, filename: str) -> list[tuple[str, int]]:
    found = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and _is_parquet_read(child)
            ):
                found.append((fn, child.lineno))
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if is_def else fn)

    visit(ast.parse(source, filename=filename), None)
    return found


def test_parquet_sources_read_through_the_footer_helper():
    violations = []
    for sub in ("sources", "orchestrator"):
        for path in sorted((PKG / sub).glob("*.py")):
            rel = str(path.relative_to(PKG))
            for fn, line in _parquet_reads(path.read_text(), str(path)):
                if (rel, fn) != FOOTER_READER:
                    violations.append(f"{rel}:{line} {fn}")
    assert not violations, (
        "parquet read outside sources/file_connector.py::read_files — it "
        "runs Spark's schema-inference job:\n  " + "\n  ".join(violations)
    )


def test_parquet_read_lint_catches_a_bare_reader():
    pasted = (
        "def read(self, path, fmt, opts):\n"
        "    reader = self.spark.read\n"
        "    a = reader.options(**opts).format(fmt).load(path)\n"
        "    b = self.spark.read.parquet(path)\n"
        "    c = spark.read.format('parquet').option('x', 1).load(path)\n"
        "    d = spark.read.option('x', 1).load(path)\n"
        "    e = spark.read.format('jdbc').options(**opts).load()\n"
        "    f = self.spark.read.format(self.FORMAT).load()\n"
        "    g = json.load(fh)\n"
        "    return a, b, c, d, e, f, g\n"
    )
    assert _parquet_reads(pasted, "<pasted>") == [
        ("read", 3), ("read", 4), ("read", 5), ("read", 6)
    ]


# The text kernels are codegen'd expressions. A higher-order function
# (F.transform, F.filter, array_sort, ...) evaluates its function
# interpreted, one call per element, outside whole-stage codegen; a
# lambda over a token array that is itself an expression re-evaluates
# that expression per element. The kernels below call none, and pass a
# Python lambda to no function; their reference lambda forms live in
# tests/test_text_kernels.py.
CODEGEN_KERNELS = {
    "ops/text.py": {
        "word_ngrams", "_nonblank_lines", "_token_ngrams",
        "_quality_feature_columns", "quality_score_column", "top_ngrams",
        "repetition_metrics",
    },
    "ops/dedup.py": {"shingles"},
}
HIGHER_ORDER = {
    "aggregate", "array_sort", "exists", "filter", "forall", "map_filter",
    "map_zip_with", "reduce", "transform", "transform_keys",
    "transform_values", "zip_with",
}


def _higher_order_calls(source: str, filename: str, kernels) -> list[tuple[str, int]]:
    found = []
    for node in ast.parse(source, filename=filename).body:
        if not isinstance(node, ast.FunctionDef) or node.name not in kernels:
            continue
        for n in ast.walk(node):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            hof = (
                isinstance(f, ast.Attribute)
                and f.attr in HIGHER_ORDER
                and isinstance(f.value, ast.Name)
                and f.value.id == "F"
            )
            args = n.args + [kw.value for kw in n.keywords]
            if hof or any(isinstance(a, ast.Lambda) for a in args):
                found.append((node.name, n.lineno))
    return found


def test_text_kernels_pass_no_lambda():
    violations = []
    for rel, kernels in CODEGEN_KERNELS.items():
        path = PKG / rel
        source = path.read_text()
        defined = {
            n.name for n in ast.parse(source).body if isinstance(n, ast.FunctionDef)
        }
        assert kernels <= defined, f"{rel}: kernels gone {kernels - defined}"
        for fn, line in _higher_order_calls(source, str(path), kernels):
            violations.append(f"{rel}:{line} {fn}")
    assert not violations, (
        "higher-order function or lambda in a codegen'd text kernel:\n  "
        + "\n  ".join(violations)
    )


def test_kernel_lint_catches_the_zipped_slice_shingles():
    pasted = (
        "def shingles(col, n=3):\n"
        "    toks = F.split(F.trim(F.lower(col)), r'\\s+')\n"
        "    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))\n"
        "    zipped = F.arrays_zip(*[F.slice(toks, k + 1, m) for k in range(n)])\n"
        "    grams = F.transform(\n"
        "        zipped, lambda s: F.concat_ws(' ', *[s[str(k)] for k in range(n)])\n"
        "    )\n"
        "    return F.array_sort(F.array_distinct(grams))\n"
        "def other(c):\n"
        "    return F.transform(c, F.lower)\n"
    )
    assert _higher_order_calls(pasted, "<pasted>", {"shingles"}) == [
        ("shingles", 5), ("shingles", 8)
    ]


# A scalar parameter (ridge, reg) joins the exact pico-int sums through
# ops/driver_exact.py::pico_int: its shortest decimal digits
# (repr/str of the float) scaled by 10¹² and rounded to an integer. A
# `.scaleb(12)` on a Decimal built from a float's digits anywhere else
# under ops/ is a hand-written copy of it. Rescaling a DECIMAL value the
# engine already returned (stats.py's moment sums: Decimal(row[...]))
# converts no float, so the rule leaves it alone.
PICO_INT = ("driver_exact.py", "pico_int")


def _float_pico_scalings(source: str, filename: str) -> list[tuple[str, int]]:
    found = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "scaleb"
                and len(child.args) == 1
                and isinstance(child.args[0], ast.Constant)
                and child.args[0].value == 12
            ):
                recv = child.func.value
                arg = (
                    recv.args[0]
                    if isinstance(recv, ast.Call)
                    and getattr(recv.func, "id", None) == "Decimal"
                    and recv.args
                    else None
                )
                if (
                    isinstance(arg, ast.Call)
                    and getattr(arg.func, "id", None) in ("repr", "str", "float")
                ):
                    found.append((fn, child.lineno))
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if is_def else fn)

    visit(ast.parse(source, filename=filename), None)
    return found


def test_float_scalars_reach_the_pico_grid_through_pico_int():
    violations = []
    for path in sorted((PKG / "ops").glob("*.py")):
        for fn, line in _float_pico_scalings(path.read_text(), str(path)):
            if (path.name, fn) != PICO_INT:
                violations.append(f"ops/{path.name}:{line} {fn}")
    assert not violations, (
        "float scaled onto the pico grid outside "
        "ops/driver_exact.py::pico_int:\n  " + "\n  ".join(violations)
    )


def test_pico_int_lint_catches_a_pasted_copy():
    pasted = (
        "def train(ridge, row):\n"
        "    a = int(Decimal(repr(float(ridge))).scaleb(12).to_integral_value())\n"
        "    b = Decimal(str(ridge)).scaleb(12)\n"
        "    c = int(Decimal(row['_sxx']).scaleb(12))\n"
        "    d = Decimal(repr(ridge)).scaleb(-12)\n"
        "    return a, b, c, d\n"
    )
    assert _float_pico_scalings(pasted, "<pasted>") == [("train", 2), ("train", 3)]
