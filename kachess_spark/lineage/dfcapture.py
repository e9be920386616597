"""Column lineage captured from a live DataFrame's analyzed plan.

The reference extracts lineage only from SQL *text* (its ANTLR visitor,
SqlMetaDataExtractor.java); pipelines built with the DataFrame API never
produce text to parse.  This module closes that gap: walk the analyzed
Catalyst plan of any DataFrame and emit (output column → source table,
source column) edges — the same answer `select_item_rel` gives for SQL
(db_setup_ddl.sql:90-100), derived from the resolved expression trees
instead of the grammar.

Mechanics: exprIds are globally unique in an analyzed plan, so lineage
reduces to a global definition map — leaf relation attributes resolve to
themselves (table identity read from the JVM relation, it is not in the
JSON), every `Alias` and `Generate` output defines its exprId as the
union of the `AttributeReference`s under it, and resolution is a
transitive closure over that map.  Metadata-sized, driver-side by
design (same stance as the reference's parse phase — the DATA never
moves, only the plan).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame

from kachess_spark.catalog import local_frame

_ATTR = "org.apache.spark.sql.catalyst.expressions.AttributeReference"
_ALIAS = "org.apache.spark.sql.catalyst.expressions.Alias"


def _expr_lists(value: Any) -> list[list[dict]]:
    """Fields holding expressions serialize as lists of flat preorder
    expression-node lists; pick out everything shaped like one."""
    if not (isinstance(value, list) and value):
        return []
    if all(isinstance(e, dict) and "class" in e for e in value):
        return [value]  # a single flat expression tree
    out = []
    for e in value:
        if isinstance(e, list) and e and all(
            isinstance(x, dict) and "class" in x for x in e
        ):
            out.append(e)
    return out


def _refs(expr_flat: list[dict]) -> list[int]:
    return [
        e["exprId"]["id"] for e in expr_flat if e.get("class") == _ATTR
    ]


def dataframe_column_lineage(df: DataFrame) -> list[tuple[str, str, str]]:
    """→ sorted [(out_column, src_table, src_column)] for ``df``.

    Output columns whose expressions reference no base column (pure
    literals, monotonically_increasing_id, …) contribute no edges —
    matching the reference's behavior for literal select items
    (SelectItem with an empty parent set).
    """
    jplan = df._jdf.queryExecution().analyzed()

    # --- leaf attribute → (table, column), via JVM (relation not in JSON)
    leaf_map: dict[int, tuple[str, str]] = {}
    leaves = jplan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        cls = leaf.getClass().getSimpleName()
        if cls == "LogicalRelation":
            path = leaf.relation().location().rootPaths().head().toString()
            table = os.path.basename(path.rstrip("/"))
            for suffix in (".parquet", ".orc", ".csv", ".json"):
                table = table.removesuffix(suffix)
        elif cls == "LocalRelation":
            table = "_inline_values"
        else:
            table = cls
        out = leaf.output()
        for j in range(out.size()):
            attr = out.apply(j)
            leaf_map[attr.exprId().id()] = (table, attr.name())

    # --- definitions from the JSON plan walk
    flat = json.loads(jplan.toJSON())
    defs: dict[int, list[int]] = {}
    for node in flat:
        if node["class"].endswith(".Generate"):
            gen_refs = _refs(
                [e for lst in _expr_lists(node.get("generator", [])) for e in lst]
            )
            for lst in _expr_lists(node.get("generatorOutput", [])):
                for attr in lst:
                    if attr.get("class") == _ATTR:
                        defs[attr["exprId"]["id"]] = gen_refs
            continue
        for field, value in node.items():
            if field in ("class", "num-children", "output"):
                continue
            for expr_flat in _expr_lists(value):
                top = expr_flat[0]
                if top.get("class") == _ALIAS:
                    defs[top["exprId"]["id"]] = _refs(expr_flat[1:])

    # --- Union positional merge (JVM walk: Union's output REUSES the
    # first child's exprIds, so the JSON alone misses branches 2..n —
    # the reference merges union branches positionally too,
    # MiscChores.union, util/MiscChores.java:66-81)
    def _walk(jnode) -> None:
        if jnode.getClass().getSimpleName() == "Union":
            out = jnode.output()
            ch = jnode.children()
            for c in range(ch.size()):
                child_out = ch.apply(c).output()
                for j in range(min(out.size(), child_out.size())):
                    oid = out.apply(j).exprId().id()
                    cid = child_out.apply(j).exprId().id()
                    if cid != oid:
                        defs.setdefault(oid, []).append(cid)
        children = jnode.children()
        for c in range(children.size()):
            _walk(children.apply(c))

    _walk(jplan)

    # --- transitive resolution (an exprId can be BOTH a leaf attribute
    # and union-linked to sibling branches — combine, don't shortcut)
    def resolve(eid: int, seen: frozenset[int] = frozenset()) -> set[tuple[str, str]]:
        out: set[tuple[str, str]] = set()
        if eid in leaf_map:
            out.add(leaf_map[eid])
        if eid in seen:
            return out
        for dep in defs.get(eid, ()):
            out |= resolve(dep, seen | {eid})
        return out

    edges: set[tuple[str, str, str]] = set()
    out = jplan.output()
    for j in range(out.size()):
        attr = out.apply(j)
        for table, col in resolve(attr.exprId().id()):
            edges.add((attr.name(), table, col))
    return sorted(edges)


def lineage_frame(df: DataFrame) -> DataFrame:
    """The edge list as a DataFrame (out_column, src_table, src_column)."""
    rows = dataframe_column_lineage(df)
    return local_frame(
        df.sparkSession, rows, "out_column string, src_table string, src_column string"
    )
