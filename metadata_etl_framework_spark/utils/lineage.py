"""Data lineage tracker: source→target edges, traversal, impact analysis.

Parity target: src/utils/data_lineage_tracker.py:92-580 (edges stored in
DB; upstream/downstream traversal; impact analysis = transitive
downstream closure). Column derivations can additionally be DERIVED
from a DataFrame's analyzed Catalyst plan (:func:`plan_column_edges`) —
the reference records them by hand per step
(data_lineage_tracker.py:295-397); Spark's resolved plan already knows
them exactly, including through joins, aggregates and renames.
"""

from __future__ import annotations

from collections import deque
from typing import Any


def _jseq(jobj) -> list:
    """Materialize a scala Seq / AttributeSet-backed iterator via py4j."""
    out = []
    it = jobj.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _leaf_name(plan, cls: str, hint: str | None) -> str:
    if hint:
        return hint
    if cls == "LogicalRelation":
        try:
            p = plan.relation().location().rootPaths().apply(0).getName()
            return p.rsplit(".", 1)[0] if "." in p else p
        except Exception:  # non-file relation (JDBC, ...)
            return "relation"
    if cls == "DataSourceV2Relation":
        try:
            return plan.table().name()
        except Exception:
            return "relation"
    return cls.lower()


def _attr_sources(plan, hint: str | None) -> dict[int, set[tuple[str, str]]]:
    """Map every output attribute exprId of ``plan`` to its set of
    source (relation, column) pairs, bottom-up over the ANALYZED logical
    plan. Project/Aggregate rewire through their named expressions;
    SubqueryAlias renames the relation; Union merges positionally; every
    other node passes attributes through, with attributes it introduces
    (Generate, Window, ...) falling back to the union of the node's
    expression references.

    The walk is an explicit-stack post-order traversal, NOT recursion:
    very deep linear plans are routine here (chunked ``bpe_encode``
    stacks hundreds-to-thousands of Projects) and would blow Python's
    default recursion limit."""
    # each work item is (plan, hint, ready): first visit pushes the
    # children (reversed, so results pop back in child order), second
    # visit combines the child maps waiting on the value stack
    values: list[dict[int, set[tuple[str, str]]]] = []
    work: list[tuple] = [(plan, hint, False)]
    while work:
        node, h, ready = work.pop()
        cls = node.getClass().getSimpleName()
        if cls == "SubqueryAlias":
            # pure rename: the child's map IS this node's map, computed
            # under the alias as the relation hint — nothing to combine
            work.append((node.children().apply(0), node.identifier().name(), False))
            continue
        children = _jseq(node.children())
        if not children:
            name = _leaf_name(node, cls, h)
            values.append({
                a.exprId().id(): {(name, a.name())}
                for a in _jseq(node.output())
            })
            continue
        if not ready:
            work.append((node, h, True))
            for ch in reversed(children):
                work.append((ch, h, False))
            continue
        child_maps = values[-len(children):]
        del values[-len(children):]
        values.append(_combine_node(node, cls, children, child_maps))
    return values[0]


def _combine_node(
    plan, cls: str, children: list, child_maps: list
) -> dict[int, set[tuple[str, str]]]:
    """Fold one interior plan node's child attribute-source maps into
    its own (the per-node body of :func:`_attr_sources`)."""
    merged: dict[int, set[tuple[str, str]]] = {}
    for m in child_maps:
        for k, v in m.items():
            merged.setdefault(k, set()).update(v)

    if cls == "Union":
        # output reuses the first child's exprIds; fold every child's
        # positional column into it
        out: dict[int, set[tuple[str, str]]] = {}
        outs_per_child = [_jseq(ch.output()) for ch in children]
        for pos, a in enumerate(_jseq(plan.output())):
            srcs: set[tuple[str, str]] = set()
            for ci, couts in enumerate(outs_per_child):
                if pos < len(couts):
                    srcs |= child_maps[ci].get(
                        couts[pos].exprId().id(), set()
                    )
            out[a.exprId().id()] = srcs
        return out

    named = None
    if cls == "Project":
        named = plan.projectList()
    elif cls == "Aggregate":
        named = plan.aggregateExpressions()
    if named is not None:
        out = {}
        for ne in _jseq(named):
            srcs = set()
            for r in _jseq(ne.references().toSeq()):
                srcs |= merged.get(r.exprId().id(), set())
            out[ne.toAttribute().exprId().id()] = srcs
        return out

    # pass-through node; attributes it introduces inherit the union of
    # everything its expressions reference
    out = dict(merged)
    introduced = [
        a for a in _jseq(plan.output()) if a.exprId().id() not in out
    ]
    if introduced:
        extra: set[tuple[str, str]] = set()
        for e in _jseq(plan.expressions()):
            for r in _jseq(e.references().toSeq()):
                extra |= merged.get(r.exprId().id(), set())
        for a in introduced:
            out[a.exprId().id()] = set(extra)
    return out


def plan_column_edges(df) -> dict[str, list[tuple[str, str]]]:
    """Column-level provenance of a DataFrame, derived from its analyzed
    Catalyst plan: ``{output_column: [(source_relation, source_column),
    ...]}``. Source relations are named by SubqueryAlias (temp views)
    when present, else by the scanned file's basename (``orders.parquet``
    → ``orders``). Driver-side plan walk only — no job runs."""
    plan = df._jdf.queryExecution().analyzed()
    mapping = _attr_sources(plan, None)
    return {
        a.name(): sorted(mapping.get(a.exprId().id(), set()))
        for a in _jseq(plan.output())
    }


class LineageTracker:
    def __init__(self, store):
        self.store = store

    def add_edge(self, run_id: int | None, src: str, dst: str,
                 transform: str | None = None) -> int:
        return self.store.insert(
            "LINEAGE_EDGES",
            {"run_id": run_id, "src": src, "dst": dst, "transform": transform},
        )

    def _edges(self) -> list[dict[str, Any]]:
        return self.store.query("SELECT * FROM LINEAGE_EDGES")

    def downstream(self, node: str) -> list[str]:
        return self._traverse(node, forward=True)

    def upstream(self, node: str) -> list[str]:
        return self._traverse(node, forward=False)

    def impact_analysis(self, node: str) -> dict[str, Any]:
        """Everything that would be affected if ``node`` changed."""
        affected = self.downstream(node)
        return {"node": node, "affected": affected, "count": len(affected)}

    def _traverse(self, start: str, forward: bool) -> list[str]:
        adj: dict[str, set[str]] = {}
        for e in self._edges():
            a, b = (e["src"], e["dst"]) if forward else (e["dst"], e["src"])
            adj.setdefault(a, set()).add(b)
        seen: set[str] = set()
        order: list[str] = []
        q = deque([start])
        while q:
            n = q.popleft()
            for nxt in sorted(adj.get(n, ())):
                if nxt not in seen:
                    seen.add(nxt)
                    order.append(nxt)
                    q.append(nxt)
        return order

    def export_graph(self) -> dict[str, Any]:
        edges = self._edges()
        nodes = sorted({e["src"] for e in edges} | {e["dst"] for e in edges})
        return {"nodes": nodes, "edges": [
            {"src": e["src"], "dst": e["dst"], "transform": e["transform"]}
            for e in edges
        ]}

    # -------------------------------------------------------- column level
    # Reference: record_column_derivation / get_column_lineage
    # (data_lineage_tracker.py:158-176, 397-428). Column nodes reuse the
    # same edge table with "table.column" node ids, so table- and
    # column-level graphs traverse with ONE mechanism.

    @staticmethod
    def _col_node(table: str, column: str) -> str:
        return f"{table}.{column}"

    def add_column_derivation(
        self,
        run_id: int | None,
        target_table: str,
        target_column: str,
        sources: list[tuple[str, str]],
        expression: str | None = None,
    ) -> None:
        """Record that target_table.target_column derives from the given
        (table, column) sources via ``expression``."""
        dst = self._col_node(target_table, target_column)
        for src_table, src_col in sources:
            self.add_edge(
                run_id, self._col_node(src_table, src_col), dst, expression
            )

    def record_plan_column_lineage(
        self, run_id: int | None, df, target_table: str
    ) -> dict[str, list[tuple[str, str]]]:
        """Derive column edges from ``df``'s analyzed Catalyst plan
        (:func:`plan_column_edges`) and record one derivation per output
        column — the automatic version of the reference's per-step
        hand-recording (data_lineage_tracker.py:295-397). Returns the
        derived mapping."""
        edges = plan_column_edges(df)
        self.record_column_edges(run_id, target_table, edges)
        return edges

    def record_column_edges(
        self,
        run_id: int | None,
        target_table: str,
        edges: dict[str, list[tuple[str, str]]],
    ) -> None:
        """Record one derivation per output column of ``target_table``
        from an already-derived :func:`plan_column_edges` mapping (a
        load writing one result to several targets derives it once)."""
        for col, sources in edges.items():
            if sources:
                self.add_column_derivation(
                    run_id, target_table, col, sources, expression=None
                )

    def column_lineage(self, table: str, column: str) -> dict[str, Any]:
        """Full upstream derivation chain of one column (transitive)."""
        node = self._col_node(table, column)
        ups = self.upstream(node)
        exprs = {
            e["dst"]: e["transform"]
            for e in self._edges()
            if e["transform"] is not None
        }
        return {
            "column": node,
            "upstream_columns": ups,
            "expression": exprs.get(node),
        }
