"""AST-level lint gate: no shadowed definitions, no silently
overwritten registry keys.

Two prior rounds shipped exactly these defects — round 8 a duplicate
top-level ``oov_rate`` def whose second copy shadowed the first, and a
registry key registered twice so one dict-literal entry silently won.
This test makes both structurally impossible: it parses (never imports)
every package module plus ``__spark_entry__.py`` and asserts

1. no module defines the same top-level function/class name twice, and
2. every string key contributed to ``_ALL_QUERIES`` / ``_ALL_SQL``
   (initial dict literal + every ``.update({...})`` call) appears
   exactly once across the file.

Pure-source analysis, so it runs in milliseconds with no SparkSession.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "metadata_etl_framework_spark"

MODULES = sorted(PKG.rglob("*.py")) + [REPO / "__spark_entry__.py"]


@pytest.mark.parametrize(
    "path", MODULES, ids=[str(p.relative_to(REPO)) for p in MODULES]
)
def test_no_duplicate_top_level_defs(path: Path):
    tree = ast.parse(path.read_text(), filename=str(path))
    names = Counter(
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    )
    dups = {n: c for n, c in names.items() if c > 1}
    assert not dups, f"{path}: shadowed top-level defs {dups}"


def _registry_keys(tree: ast.Module, registry: str) -> Counter:
    """Every literal string key contributed to ``registry`` — from its
    initial ``{...}`` assignment and every ``registry.update({...})``."""
    keys: Counter = Counter()

    def keys_of(d: ast.AST):
        if isinstance(d, ast.Dict):
            for k in d.keys:
                if isinstance(k, ast.Constant) and isinstance(k.value, str):
                    keys[k.value] += 1

    for node in ast.walk(tree):
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (
                node.targets if isinstance(node, ast.Assign) else [node.target]
            )
            if any(
                isinstance(t, ast.Name) and t.id == registry for t in targets
            ) and node.value is not None:
                keys_of(node.value)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "update"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == registry
        ):
            for arg in node.args:
                keys_of(arg)
    return keys


@pytest.mark.parametrize("registry", ["_ALL_QUERIES", "_ALL_SQL"])
def test_registry_keys_registered_exactly_once(registry: str):
    tree = ast.parse(
        (REPO / "__spark_entry__.py").read_text(),
        filename="__spark_entry__.py",
    )
    keys = _registry_keys(tree, registry)
    assert keys, f"no literal keys found for {registry} — lint is blind"
    dups = {k: c for k, c in keys.items() if c > 1}
    assert not dups, f"{registry} keys registered more than once: {dups}"


def test_driver_and_extra_key_lists_have_no_literal_duplicates():
    """The _DRIVER_KEYS/_EXTRA_KEYS list literals themselves: a key pasted
    twice would silently shrink the 50-entry gate at runtime."""
    tree = ast.parse(
        (REPO / "__spark_entry__.py").read_text(),
        filename="__spark_entry__.py",
    )
    for name in ("_DRIVER_KEYS", "_EXTRA_KEYS"):
        lists = [
            node.value
            for node in ast.walk(tree)
            if isinstance(node, ast.Assign)
            and any(
                isinstance(t, ast.Name) and t.id == name for t in node.targets
            )
        ]
        assert len(lists) == 1, f"{name} assigned {len(lists)} times"
        (lst,) = lists
        assert isinstance(lst, ast.List)
        vals = [
            e.value
            for e in lst.elts
            if isinstance(e, ast.Constant) and isinstance(e.value, str)
        ]
        dup = {k: c for k, c in Counter(vals).items() if c > 1}
        assert not dup, f"{name} literal duplicates: {dup}"


# Functions that persist() a frame and intentionally return a LAZY plan
# referencing it — the cache's lifetime belongs to the caller (or the
# ContextCleaner once references drop), so no in-function release exists.
# Every entry was individually audited (r10 verdict: all bounded frames).
# Adding a NEW unpaired persist fails this lint until it is either given
# a release (unpersist / the persisted-handles convention) or consciously
# whitelisted here with a reason.
RETURNED_LAZY_PERSISTS = {
    # projection shared by every consumer of the returned lazy frame
    ("functions/joins.py", "range_count"),
    ("ops/dedup.py", "_shingle_base"),
    ("ops/dedup.py", "minhash_near_duplicates"),
    ("ops/dedup.py", "bloom_incremental_dedup"),
    # offsets-correctness cache (see packing.py docstring): released by
    # the ContextCleaner when the returned frame is dropped
    ("ops/packing.py", "global_row_number"),
    ("ops/similarity.py", "embedding_near_dup_pairs"),
    ("ops/similarity.py", "group_diversity"),
    ("ops/text.py", "tfidf_top_terms"),
    ("ops/text.py", "dsir_importance_weights"),
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
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
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
