"""Plan-walking lineage extractor.

Re-implements the reference's visitor semantics (sql_lineage/src/main/java/
project/kachess/sql_lineage/SqlMetaDataExtractor.java) over Catalyst's
unresolved logical plan instead of an ANTLR parse tree.  Policies
reproduced (SURVEY.md §4 "custom work"):

* one Dataset per SELECT scope; TABLE datasets resolved CTE cache →
  temp tables → session cache → metastore
  (findTableInCacheOrPhysicalSrc:898-929);
* the WHERE predicate is ONE WHERE-context SelectItem whose resolved
  columns become parents of EVERY output column
  (visitWhere_clause:302-327, Dataset.java:215-217);
* each JOIN ON predicate likewise, JOIN-context
  (visitFrom_join_clause:329-360, Dataset.java:219-222);
* GROUP BY keys' parents propagate to non-key outputs
  (resolveGroupBy:1131-1154), ordinals resolved positionally
  (findSelectItemByIndex:1115-1129, ordinal 0 tolerated as constant);
* '*' in a function (count(*)) contributes an S_COL_ASTERISK proxy parent
  per FROM dataset (visitExpr_func_param_any:430-462,
  DatasetPool.java:171-195);
* UNION branches merge positionally into the first branch
  (DatasetList.java:10-22, MiscChores.union:66-81), flagged
  _UNION_APPLIED_; EXCEPT/INTERSECT are not merged (:563);
* ORDER BY columns are deliberately excluded from lineage
  (visitColNameInExpr:373-379);
* type strings propagate parent→child only for simple column references
  (DatasetPool.java:149-155);
* name matching is case-insensitive, first match wins
  (DatasetPool.java:197-234), with struct-path retry
  (SelectItemNameWrangler.canTryAgain:34-39).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from kachess_spark.lineage import model as M
from kachess_spark.lineage import planjson as P
from kachess_spark.lineage.metastore import MetaDataNotFound, Metastore
from kachess_spark.lineage.preprocess import (
    preprocess,
    rewrite_dialect,
    split_statements,
    unsupported_reason,
)

_ASTERISK_MARK = object()  # sentinel: '*' seen inside a function call


@dataclass
class _Scoped:
    """A dataset as used in one FROM clause (reference: DatasetWrapper.java:
    8-12 — per-use alias over a shared Dataset)."""

    dataset: M.Dataset
    alias: str | None = None

    def names(self) -> list[str]:
        out = []
        if self.alias:
            out.append(self.alias.lower())
        if self.dataset.name:
            out.append(self.dataset.name.lower())
        if self.dataset.table_name:
            out.append(self.dataset.table_name.lower())
        return out


@dataclass
class _Scope:
    sources: list[_Scoped] = field(default_factory=list)
    where_exprs: list[P.Node] = field(default_factory=list)
    join_exprs: list[P.Node] = field(default_factory=list)


class LineageSession:
    """One extraction session over one or more SQL scripts
    (reference: SqlMetaDataExtractor session, initSession/closeSession)."""

    def __init__(
        self,
        spark: SparkSession,
        metastore: Metastore | None = None,
        seed: int = 1000,
        lenient: bool = False,
        source_tag: str = "session",
        dialect: str = "SPARK",
        system_source: str = "AIRFLOW",
    ):
        self.spark = spark
        self.metastore = metastore or Metastore()
        self.ids = M.IdGen(seed)
        self.store = M.GraphStore()
        self.lenient = lenient
        self.source_tag = source_tag
        # dialect ∈ {HIVE, SPARK, PRESTO}; system_source ∈ {AIRFLOW,
        # DASHBOARD} (BatchProcessor.run:106-119 validation)
        self.dialect = dialect
        self.system_source = system_source
        self._source_id: int | None = None
        self.current_schema: str | None = None
        # dsCache / cteCache / tmptblCache (SqlMetaDataExtractor.java:39-41)
        self.table_cache: dict[str, M.Dataset] = {}
        self.cte_cache: dict[str, M.Dataset] = {}
        self.temp_tables: dict[str, M.Dataset] = {}
        self.dropped: set[str] = set()
        self.skipped: list[tuple[str, str]] = []  # (stmt, reason)
        self.warnings: list[str] = []
        self._last_scope: _Scope | None = None

    # ------------------------------------------------------------- public

    def extract_script(self, text: str) -> None:
        # sources number from their own counter so dataset/item IDs stay
        # stable under the golden seed regardless of script count
        self._source_id = len(self.store.sql_sources) + 1
        self.store.sql_sources.append(
            (self._source_id, self.source_tag, self.dialect, self.system_source)
        )
        for stmt in split_statements(preprocess(text)):
            stmt, shims = rewrite_dialect(stmt)
            if shims:
                self.warnings.append(f"dialect shims applied: {', '.join(shims)}")
            reason = unsupported_reason(stmt)
            if reason:
                self.skipped.append((stmt, reason))
                continue
            try:
                plan = P.parse_statement(self.spark, stmt)
            except Exception as exc:
                self.skipped.append((stmt, f"parse error: {str(exc)[:200]}"))
                continue
            try:
                self._statement(plan, stmt)
            finally:
                # CTEs are statement-scoped (visitStmt:146-148)
                self.cte_cache.clear()

    def close(self) -> None:
        """Session close: de-scope temp tables by renaming
        (closeSession:79-100 — ``tmp_<name>_<source>``)."""
        for name, ds in self.temp_tables.items():
            ds.name = f"tmp_{name}_{self.source_tag}"
        self.temp_tables.clear()

    def frames(self) -> dict[str, DataFrame]:
        return M.frames(self.spark, self.store)

    # -------------------------------------------------------- statements

    def _statement(self, node: P.Node, raw: str) -> None:
        cls = P.short_class(node)
        if cls == "SetCatalogAndNamespace":
            ns = P.parts(node["_children"][0].get("multipartIdentifier"))
            if ns:
                self.current_schema = ns[-1]  # visitUse_stmt:121-125
        elif cls == "UnresolvedWith":
            for rel in node.get("cteRelations", []):
                name = rel["_1"]
                ds = self._query(_cte_plan(rel))
                ds.type = M.CTE
                ds.name = name
                self.cte_cache[name.lower()] = ds  # visitCte_select_stmt_item:543-557
            self._statement(node["_children"][0], raw)
        elif cls == "Union" and all(
            P.short_class(c) == "InsertIntoStatement" for c in node["_children"]
        ):
            # Hive multi-table insert (visitMultitable_insert_stmt:569-584)
            for ins in node["_children"]:
                self._insert(ins, raw)
        elif cls == "InsertIntoStatement":
            self._insert(node, raw)
        elif cls == "CreateTable":
            self._create_table(node)
        elif cls == "CreateTableAsSelect" or cls == "ReplaceTableAsSelect":
            self._ctas(node)
        elif cls == "CreateTableLikeCommand":
            self._create_like(node)
        elif cls == "CreateViewCommand":
            # inner SELECT visited; view registered like a temp table
            ds = self._query(node["_children"][0])
            name = node.get("name", {}).get("table")
            if name:
                ds.name = name
                self.temp_tables[name.lower()] = ds
        elif cls == "CreateView":
            # permanent-view v2 command: children = [identifier, query]
            ds = self._query(node["_children"][1])
            ident = P.parts(node["_children"][0].get("nameParts"))
            if ident:
                ds.name = ident[-1]
                self.temp_tables[ident[-1].lower()] = ds
        elif cls == "DropTable":
            ident = P.parts(node["_children"][0].get("nameParts"))
            self._drop(ident)  # visitDrop_table:888-896
        elif cls == "AddPartitions":
            self._add_partition(node, raw)
        elif cls in (
            "DeleteFromTable", "UpdateTable", "MergeIntoTable", "TruncateTable",
            "SetCommand", "RefreshTable", "AnalyzeTable", "RepairTable",
            "CreateFunction", "CreateUserDefinedFunction", "AddJarsCommand",
            "AddFilesCommand",
        ):
            pass  # parse-only in the reference (SURVEY.md §2.1/§2.10)
        else:
            # a top-level SELECT: for DASHBOARD sources, record which
            # dashboard consumes it (closeSession:102-111)
            ds = self._query(node)
            if self.system_source == "DASHBOARD" and self._source_id is not None:
                self.store.dashboard_links.append((self._source_id, ds.id))

    # -------------------------------------------------------------- DDL

    def _qualify(self, ident: list[str]) -> tuple[str | None, str]:
        if len(ident) >= 2:
            return ident[-2], ident[-1]
        return self.current_schema, ident[-1]

    def _create_table(self, node: P.Node) -> None:
        ident = P.parts(node["_children"][0].get("nameParts"))
        schema, table = self._qualify(ident)
        ds = M.Dataset(
            id=self.ids.next(), type=M.TABLE, name=table,
            schema_name=schema, table_name=table,
        )
        for pos, coldef in enumerate(node.get("columns") or []):
            cd = coldef[0] if isinstance(coldef, list) else coldef
            ds.items.append(
                M.SelectItem(
                    id=self.ids.next(), dataset_id=ds.id, name=cd["name"],
                    alias=None, definition=cd["name"],
                    data_type=_hive_type(cd.get("dataType")), position=pos,
                )
            )
        self._register_table(ds)

    def _ctas(self, node: P.Node) -> None:
        # visitCreate_table_stmt CTAS branch (:703-735): table columns mirror
        # the select's outputs, each parented by its select item
        ident = P.parts(node["_children"][0].get("nameParts"))
        schema, table = self._qualify(ident)
        src = self._query(node["_children"][1])
        ds = M.Dataset(
            id=self.ids.next(), type=M.TABLE, name=table,
            schema_name=schema, table_name=table,
        )
        for pos, it in enumerate(src.items):
            col = M.SelectItem(
                id=self.ids.next(), dataset_id=ds.id,
                name=it.alias or it.name, alias=None,
                definition=it.alias or it.name or it.definition,
                data_type=it.data_type, position=pos,
            )
            col.parents.add(it.id)
            ds.items.append(col)
        self._register_table(ds)

    def _create_like(self, node: P.Node) -> None:
        src = node.get("sourceTable", {})
        src_ds = self._find_table(src.get("database"), src.get("table"))
        tgt = node.get("targetTable", {})
        schema = tgt.get("database") or self.current_schema
        table = tgt.get("table")
        ds = M.Dataset(
            id=self.ids.next(), type=M.TABLE, name=table,
            schema_name=schema, table_name=table,
        )
        if src_ds:
            for pos, it in enumerate(src_ds.items):
                ds.items.append(
                    M.SelectItem(
                        id=self.ids.next(), dataset_id=ds.id, name=it.name,
                        alias=None, definition=it.name or "",
                        data_type=it.data_type, position=pos,
                    )
                )
        self._register_table(ds)

    def _register_table(self, ds: M.Dataset) -> None:
        self.store.datasets.append(ds)
        key = f"{(ds.schema_name or '').lower()}.{(ds.table_name or '').lower()}"
        self.table_cache[key] = ds
        self.dropped.discard(key)

    def _drop(self, ident: list[str]) -> None:
        schema, table = self._qualify(ident)
        key = f"{(schema or '').lower()}.{table.lower()}"
        self.dropped.add(key)
        self.table_cache.pop(key, None)
        self.temp_tables.pop(table.lower(), None)

    def _add_partition(self, node: P.Node, raw: str) -> None:
        # spec values aren't serialized by toJSON; recover from raw text
        ident = P.parts(node["_children"][0].get("multipartIdentifier"))
        schema, table = self._qualify(ident)
        spec = None
        m = re.search(r"(?i)PARTITION\s*\(([^)]*)\)", raw)
        if m:
            spec = m.group(1).strip()
        loc = None
        for part in node.get("parts") or []:
            p0 = part[0] if isinstance(part, list) else part
            loc = p0.get("location") or loc
        self.store.partition_adds.append(
            M.PartitionAdd(schema, table, spec, loc)
        )  # visitAlter_table_stmt:848-869

    # ----------------------------------------------------------- inserts

    def _insert(self, node: P.Node, raw: str) -> None:
        tbl_trees = node.get("table") or []
        ident = P.parts(tbl_trees[0].get("multipartIdentifier")) if tbl_trees else []
        schema, table = self._qualify(ident)
        src = self._query(node["_children"][0])
        target = self._find_table(schema, table, create_if_missing=True)
        # positional column match (matchInsertsWithActual:1028-1048);
        # by-name when the statement lists columns
        cols = node.get("userSpecifiedCols") or []
        if isinstance(cols, str):
            cols = P.parts(cols)
        if cols:
            tgt_items = [target.find_item(c) for c in cols]
        else:
            tgt_items = list(target.items)
        for s_it, t_it in zip(src.items, tgt_items):
            if t_it is not None:
                t_it.parents.add(s_it.id)
        overwrite = bool(node.get("overwrite"))
        itype = "INSERT OVERWRITE TABLE" if overwrite else "INSERT INTO TABLE"
        m = re.search(r"(?i)PARTITION\s*\(([^)]*)\)", raw)
        self.store.table_inserts.append(
            M.TableInsert(
                target_dataset_id=target.id, source_dataset_id=src.id,
                insert_type=itype,
                partition_spec=m.group(1).strip() if m else None,
            )
        )  # visitInsert_stmt:586-611 + processInsertBySelect:1050-1075

    # ------------------------------------------------------------ queries

    _WRAPPERS = {"Distinct", "GlobalLimit", "LocalLimit", "Sort",
                 "WithWindowDefinition", "UnresolvedHint", "Offset",
                 # DISTRIBUTE BY / CLUSTER BY and TABLESAMPLE add no
                 # lineage (SURVEY.md §2.6/§2.1: parse-only)
                 "RepartitionByExpression", "Repartition", "Sample",
                 "RebalancePartitions"}

    def _query(self, node: P.Node) -> M.Dataset:
        """A fullselect: wrappers peeled (ORDER BY/LIMIT add no lineage,
        visitColNameInExpr:373-379), set-ops handled, SELECT scopes built."""
        cls = P.short_class(node)
        if cls in self._WRAPPERS:
            return self._query(node["_children"][0])
        if cls == "UnresolvedHaving" or (
            cls == "Filter" and P.short_class(node["_children"][0]) == "Aggregate"
        ):
            # HAVING: predicate treated like WHERE on the agg scope
            ds = self._query(node["_children"][0])
            cond = node.get("havingCondition") or node.get("condition")
            if cond:
                fl = self._predicate_item(cond[0], ds.id, M.CTX_WHERE,
                                          self._last_scope)
                ds.filter_items.append(fl)
            return ds
        if cls == "UnresolvedWith":
            for rel in node.get("cteRelations", []):
                sub = self._query(_cte_plan(rel))
                sub.type = M.CTE
                sub.name = rel["_1"]
                self.cte_cache[rel["_1"].lower()] = sub
            return self._query(node["_children"][0])
        if cls == "Union":
            return self._union(node)
        if cls in ("Except", "Intersect"):
            # branches kept separate; result is branch 1 (reference only
            # merges UNION, visitFullselect_set_clause:559-567)
            left = self._query(node["_children"][0])
            self._query(node["_children"][1])
            return left
        if cls == "SubqueryAlias":
            ds = self._query(node["_children"][0])
            ds.name = ds.name or node.get("identifier", {}).get("name")
            return ds
        if cls in ("Project", "Aggregate"):
            return self._select(node)
        if cls == "UnresolvedRelation":
            scoped = self._relation(node)
            return scoped.dataset
        if cls == "OneRowRelation":
            ds = M.Dataset(id=self.ids.next(), type=M.SUBQUERY)
            self.store.datasets.append(ds)
            return ds
        if cls in ("Filter", "Join", "Generate", "LocalRelation",
                   "UnresolvedSubqueryColumnAliases"):
            # bare FROM shapes without a Project on top
            scope = _Scope()
            self._from(node, scope)
            ds = M.Dataset(id=self.ids.next(), type=M.SUBQUERY)
            self._attach_predicates(ds, scope)
            self.store.datasets.append(ds)
            return ds
        # unknown node: peel single-child wrappers, never recurse on self
        # (guards against _query/_from mutual recursion on new plan nodes)
        if node["_children"]:
            self.warnings.append(f"unhandled plan node {cls}; peeling child")
            return self._query(node["_children"][0])
        self.warnings.append(f"unhandled leaf plan node {cls}")
        ds = M.Dataset(id=self.ids.next(), type=M.SUBQUERY, extra_info=cls)
        self.store.datasets.append(ds)
        return ds

    def _union(self, node: P.Node) -> M.Dataset:
        branches = [self._query(c) for c in node["_children"]]
        first = branches[0]
        # If branch 1 resolved to a shared dataset (bare `TABLE t` / CTE /
        # temp-table reference), the positional merge below would mutate
        # that dataset's items in place and pollute every other use of the
        # table in the session — wrap it in a fresh SUBQUERY first.
        shared = (
            first.type != M.SUBQUERY
            or any(first is ds for ds in self.cte_cache.values())
            or any(first is ds for ds in self.temp_tables.values())
        )
        if shared:
            wrapper = M.Dataset(id=self.ids.next(), type=M.SUBQUERY)
            for pos, it in enumerate(first.items):
                w_it = M.SelectItem(
                    id=self.ids.next(), dataset_id=wrapper.id,
                    name=it.name, alias=None,
                    definition=it.name or it.definition,
                    data_type=it.data_type, position=pos,
                    parents={it.id},
                )
                wrapper.items.append(w_it)
            self.store.datasets.append(wrapper)
            first = wrapper
        # positional merge (MiscChores.union:66-81): later branches' parents
        # fold into branch 1's items; merged branches are dropped as nodes
        for other in branches[1:]:
            # A shared later branch (bare TABLE/CTE) is itself the lineage
            # source: link to its item ids, don't copy its (empty) parents
            # — and never drop or mutate the shared node.
            other_shared = (
                other.type != M.SUBQUERY
                or any(other is ds for ds in self.cte_cache.values())
                or any(other is ds for ds in self.temp_tables.values())
            )
            for i, it in enumerate(first.items):
                if i < len(other.items):
                    if other_shared:
                        it.parents.add(other.items[i].id)
                    else:
                        it.parents |= other.items[i].parents
            if not other_shared:
                # the dropped branch's predicates now belong to `first`
                for it in other.filter_items + other.join_items:
                    it.dataset_id = first.id
                first.filter_items.extend(other.filter_items)
                first.join_items.extend(other.join_items)
                if other in self.store.datasets:
                    self.store.datasets.remove(other)
        first.extra_info = M.UNION_APPLIED
        return first

    # ------------------------------------------------------- FROM clause

    def _relation(self, node: P.Node, alias: str | None = None) -> _Scoped:
        ident = P.parts(node.get("multipartIdentifier"))
        name = ident[-1]
        schema = ident[-2] if len(ident) >= 2 else None
        # lookup order (findTableInCacheOrPhysicalSrc:898-929)
        if schema is None and name.lower() in self.cte_cache:
            return _Scoped(self.cte_cache[name.lower()], alias)
        if name.lower() in self.temp_tables:
            return _Scoped(self.temp_tables[name.lower()], alias)
        ds = self._find_table(schema, name, create_if_missing=False)
        if ds is None:
            if not self.lenient:
                raise MetaDataNotFound(f"{schema or self.current_schema}.{name}")
            self.warnings.append(f"unresolved table {schema}.{name}")
            ds = M.Dataset(
                id=self.ids.next(), type=M.TABLE, name=name,
                schema_name=schema or self.current_schema, table_name=name,
            )
            self._register_table(ds)
        return _Scoped(ds, alias)

    def _find_table(
        self, schema: str | None, table: str, create_if_missing: bool = False
    ) -> M.Dataset | None:
        schema = schema or self.current_schema
        key = f"{(schema or '').lower()}.{table.lower()}"
        if key in self.table_cache:
            return self.table_cache[key]
        cols = self.metastore.lookup(schema, table)
        if cols is None and create_if_missing:
            cols = []
        if cols is None:
            return None
        ds = M.Dataset(
            id=self.ids.next(), type=M.TABLE, name=table,
            schema_name=schema, table_name=table,
        )
        for pos, (c, t) in enumerate(cols):
            ds.items.append(
                M.SelectItem(
                    id=self.ids.next(), dataset_id=ds.id, name=c, alias=None,
                    definition=c, data_type=t, position=pos,
                )
            )
        self._register_table(ds)
        return ds

    def _from(self, node: P.Node, scope: _Scope) -> None:
        cls = P.short_class(node)
        if cls == "Filter":
            cond = node.get("condition")
            if cond:
                scope.where_exprs.append(cond[0])
            self._from(node["_children"][0], scope)
        elif cls == "Join":
            self._from(node["_children"][0], scope)
            self._from(node["_children"][1], scope)
            cond = node.get("condition")
            if cond:
                scope.join_exprs.append(cond[0])
        elif cls == "Generate":
            self._from(node["_children"][0], scope)
            self._lateral_view(node, scope)
        elif cls == "SubqueryAlias":
            alias = node.get("identifier", {}).get("name")
            child = node["_children"][0]
            ccls = P.short_class(child)
            if ccls == "UnresolvedRelation":
                scope.sources.append(self._relation(child, alias))
            elif ccls == "UnresolvedSubqueryColumnAliases":
                sub = self._column_aliased(child)
                scope.sources.append(_Scoped(sub, alias))
            else:
                sub = self._query(child)
                scope.sources.append(_Scoped(sub, alias))
        elif cls == "UnresolvedRelation":
            scope.sources.append(self._relation(node))
        elif cls == "LocalRelation":
            scope.sources.append(_Scoped(self._local_relation(node, [])))
        elif cls in ("Project", "Aggregate", "Union", "Except", "Intersect",
                     "UnresolvedWith", "Distinct", "GlobalLimit",
                     "LocalLimit", "Sort", "OneRowRelation"):
            # nested fullselect directly in FROM
            sub = self._query(node)
            scope.sources.append(_Scoped(sub))
        elif node["_children"]:
            # unknown wrapper (TABLESAMPLE, repartition hints, …): peel —
            # never hand the same node back to _query (mutual recursion)
            self._from(node["_children"][0], scope)
        else:
            self.warnings.append(
                f"unhandled FROM leaf {cls}; no dataset contributed"
            )

    def _column_aliased(self, node: P.Node) -> M.Dataset:
        names = node.get("outputColumnNames") or []
        if isinstance(names, str):
            names = P.parts(names)
        child = node["_children"][0]
        if P.short_class(child) == "LocalRelation":
            return self._local_relation(child, names)
        sub = self._query(child)
        for it, nm in zip(sub.items, names):
            it.alias = nm
            it.name = nm
        return sub

    def _local_relation(self, node: P.Node, names: list[str]) -> M.Dataset:
        """FROM (VALUES ...) — a leaf dataset with literal columns."""
        ds = M.Dataset(id=self.ids.next(), type=M.SUBQUERY, extra_info="VALUES")
        out = node.get("output") or []
        for pos, attr_tree in enumerate(out):
            attr = attr_tree[0] if isinstance(attr_tree, list) else attr_tree
            nm = names[pos] if pos < len(names) else attr.get("name", f"col{pos + 1}")
            it = M.SelectItem(
                id=self.ids.next(), dataset_id=ds.id, name=nm, alias=None,
                definition=nm, data_type=_hive_type(attr.get("dataType")),
                position=pos,
            )
            ds.items.append(it)
        self.store.datasets.append(ds)
        return ds

    def _lateral_view(self, node: P.Node, scope: _Scope) -> None:
        """LATERAL VIEW explode(col) alias AS c1,c2
        (visitLateral_view_clause:794-846): a LATERAL_VIEW dataset whose
        output columns all share the generator arguments' parents."""
        gen_trees = node.get("generator") or []
        gen = gen_trees[0] if gen_trees else {}
        args = gen.get("_children", [])
        parents: set[int] = set()
        for a in args:
            for ref in _collect_refs(a):
                if ref is _ASTERISK_MARK:
                    continue
                hit = self._resolve(ref, scope)
                if hit is not None:
                    parents.add(hit.id)
        ds = M.Dataset(
            id=self.ids.next(), type=M.LATERAL_VIEW,
            name=node.get("qualifier"),
        )
        out_names = []
        for t in node.get("generatorOutput") or []:
            a = t[0] if isinstance(t, list) else t
            out_names.extend(P.parts(a.get("nameParts")) or [a.get("name", "col")])
        fname = gen.get("name", {}).get("funcName", "generator")
        arg_txt = ", ".join(_render(a) for a in args)
        for pos, nm in enumerate(out_names):
            it = M.SelectItem(
                id=self.ids.next(), dataset_id=ds.id, name=nm, alias=nm,
                definition=nm, position=pos,
            )
            it.parents |= parents
            ds.items.append(it)
        ds.extra_info = f"{fname}({arg_txt})"
        self.store.datasets.append(ds)
        scope.sources.append(_Scoped(ds, node.get("qualifier")))

    # ------------------------------------------------------ SELECT scope

    def _select(self, node: P.Node) -> M.Dataset:
        cls = P.short_class(node)
        scope = _Scope()
        self._from(node["_children"][0], scope)
        self._last_scope = scope

        ds = M.Dataset(id=self.ids.next(), type=M.SUBQUERY)
        exprs = node.get("aggregateExpressions") or node.get("projectList") or []
        pos = 0
        for tree in exprs:
            expr = tree[0] if isinstance(tree, list) and tree else tree
            pos = self._add_select_item(ds, expr, pos, scope)

        self._attach_predicates(ds, scope)

        if cls == "Aggregate":
            ds.is_aggregated = True
            self._group_by(ds, node.get("groupingExpressions") or [], scope)

        self.store.datasets.append(ds)
        return ds

    def _attach_predicates(self, ds: M.Dataset, scope: _Scope) -> None:
        for cond in scope.where_exprs:
            ds.filter_items.append(
                self._predicate_item(cond, ds.id, M.CTX_WHERE, scope)
            )
        for cond in scope.join_exprs:
            ds.join_items.append(
                self._predicate_item(cond, ds.id, M.CTX_JOIN, scope)
            )

    def _predicate_item(
        self, cond: P.Node, ds_id: int, ctx: str, scope: _Scope | None
    ) -> M.SelectItem:
        it = M.SelectItem(
            id=self.ids.next(), dataset_id=ds_id, name=None, alias=None,
            definition=_render(cond), usage_context=ctx,
        )
        for ref in _collect_refs(cond):
            if ref is _ASTERISK_MARK or scope is None:
                continue
            hit = self._resolve(ref, scope)
            if hit is not None:
                it.parents.add(hit.id)
        # subqueries inside the predicate (EXISTS / IN (SELECT…)) get their
        # own datasets, reference-style nested-scope visits
        for sub in _collect_subplans(cond):
            self._query(sub)
        return it

    def _add_select_item(
        self, ds: M.Dataset, expr: P.Node, pos: int, scope: _Scope
    ) -> int:
        cls = P.short_class(expr)
        if cls == "UnresolvedStar":
            # '*' / 't.*' expansion (visitSelect_list_asterisk:190-214,
            # DatasetPool.resolveCurrentItem:64-101)
            target = P.parts(expr.get("target"))
            for scoped in scope.sources:
                if target and target[-1].lower() not in scoped.names():
                    continue
                for src_it in scoped.dataset.items:
                    nm = src_it.alias or src_it.name
                    it = M.SelectItem(
                        id=self.ids.next(), dataset_id=ds.id, name=nm,
                        alias=None, definition=nm or src_it.definition,
                        data_type=src_it.data_type, position=pos,
                    )
                    it.parents.add(src_it.id)
                    ds.items.append(it)
                    pos += 1
            return pos

        alias = None
        inner = expr
        if cls == "Alias":
            alias = expr.get("name")
            inner = expr["_children"][0]
        elif cls == "UnresolvedAlias":
            inner = expr["_children"][0]

        definition = _render(inner)
        name = alias
        data_type = None
        it = M.SelectItem(
            id=self.ids.next(), dataset_id=ds.id, name=name, alias=alias,
            definition=definition, position=pos,
        )
        icls = P.short_class(inner)
        if icls == "UnresolvedAttribute":
            ref = P.parts(inner.get("nameParts"))
            hit = self._resolve(ref, scope)
            if hit is not None:
                it.parents.add(hit.id)
                data_type = hit.data_type  # simple-ref type propagation
            it.name = alias or ref[-1]
            it.data_type = data_type
        else:
            refs = _collect_refs(inner)
            # Catalyst rewrites count(*) → count(1) at parse time, so the
            # star is unobservable here; a column-free count() gets the
            # S_COL_ASTERISK proxy treatment (visitExpr_func_param_any:
            # 430-462) — deliberate deviation: plain count(1) also
            # qualifies, keeping table-level lineage alive either way.
            if not refs and _is_count(inner):
                refs = [_ASTERISK_MARK]
            for ref in refs:
                if ref is _ASTERISK_MARK:
                    for scoped in scope.sources:
                        it.parents.add(self._asterisk(scoped.dataset).id)
                    continue
                hit = self._resolve(ref, scope)
                if hit is not None:
                    it.parents.add(hit.id)
            for sub in _collect_subplans(inner):
                self._query(sub)
        ds.items.append(it)
        return pos + 1

    def _group_by(
        self, ds: M.Dataset, grouping: list, scope: _Scope
    ) -> None:
        keys: list[M.SelectItem] = []
        for tree in grouping:
            g = tree[0] if isinstance(tree, list) and tree else tree
            if not isinstance(g, dict):
                continue
            gcls = P.short_class(g)
            if gcls == "UnresolvedOrdinal":
                idx = int(g.get("ordinal", 0))
                if idx == 0:
                    continue  # tolerated as constant (:1117-1120)
                if idx <= len(ds.items):
                    keys.append(ds.items[idx - 1])
            elif gcls == "UnresolvedAttribute":
                nm = P.parts(g.get("nameParts"))[-1]
                # findSelectItemByName:1078-1112 — match output name/alias,
                # else the item whose definition IS that column
                hit = ds.find_item(nm)
                if hit is None:
                    low = nm.lower()
                    for it in ds.items:
                        if it.definition.lower() == low:
                            hit = it
                            break
                if hit is not None:
                    keys.append(hit)
            elif gcls == "Literal":
                continue
            # grouping sets / cube / rollup exprs: parse-only (SURVEY §2.4)
        key_ids = {k.id for k in keys}
        key_parents: set[int] = set()
        for k in keys:
            key_parents |= k.parents
        for it in ds.items:
            if it.id not in key_ids:
                it.parents |= key_parents  # resolveGroupBy:1131-1154

    # --------------------------------------------------------- resolution

    def _resolve(
        self, ref: list[str], scope: _Scope
    ) -> M.SelectItem | None:
        """Resolve a (possibly qualified, possibly struct-path) column
        reference against the FROM datasets; case-insensitive, first match
        wins (DatasetPool.lookupByNames:166-241)."""
        if not ref:
            return None
        if len(ref) > 1:
            qual = ref[0].lower()
            for scoped in scope.sources:
                if qual in scoped.names():
                    hit = scoped.dataset.find_item(ref[1])
                    if hit is not None:
                        return hit
        # unqualified, or struct path: first part as column name
        # (SelectItemNameWrangler.canTryAgain:34-39 retry semantics)
        for scoped in scope.sources:
            hit = scoped.dataset.find_item(ref[0])
            if hit is not None:
                return hit
        return None

    def _asterisk(self, ds: M.Dataset) -> M.SelectItem:
        if ds._asterisk_item is None:
            ds._asterisk_item = M.SelectItem(
                id=self.ids.next(), dataset_id=ds.id, name=M.ASTERISK,
                alias=None, definition="*",
            )
        return ds._asterisk_item


# ------------------------------------------------------------ expression
# tree helpers (no py4j: plain decoded dicts)

def _cte_plan(rel: dict) -> P.Node:
    """A cteRelations tuple's plan (already decoded by the field decoder)."""
    val = rel["_2"]
    if isinstance(val, list) and val and isinstance(val[0], dict):
        if "_children" in val[0]:
            return val[0]
        return P.decode_tree_list(val)[0]
    raise ValueError("unexpected cteRelations encoding")


_BINOPS = {
    "EqualTo": "=", "EqualNullSafe": "<=>", "LessThan": "<",
    "LessThanOrEqual": "<=", "GreaterThan": ">", "GreaterThanOrEqual": ">=",
    "Add": "+", "Subtract": "-", "Multiply": "*", "Divide": "/",
    "Remainder": "%", "And": "AND", "Or": "OR", "BitwiseAnd": "&",
    "BitwiseOr": "|", "BitwiseXor": "^", "Like": "LIKE", "RLike": "RLIKE",
}


def _render(expr: P.Node) -> str:
    """Reconstruct expression text (the reference stores the raw source
    slice; we print the parse tree — stable within this repo's goldens)."""
    if not isinstance(expr, dict):
        return str(expr)
    cls = P.short_class(expr)
    ch = expr.get("_children", [])
    if cls == "UnresolvedAttribute":
        return ".".join(P.parts(expr.get("nameParts")))
    if cls == "UnresolvedStar":
        t = P.parts(expr.get("target"))
        return f"{'.'.join(t)}.*" if t else "*"
    if cls == "Literal":
        v = expr.get("value")
        if v is None:
            return "NULL"
        if expr.get("dataType") == "string":
            return f"'{v}'"
        return str(v)
    if cls == "UnresolvedFunction":
        nm = ".".join(P.parts(expr.get("nameParts")))
        args = ", ".join(_render(a) for a in ch)
        dist = "DISTINCT " if expr.get("isDistinct") else ""
        return f"{nm}({dist}{args})"
    if cls in ("Alias", "UnresolvedAlias"):
        return _render(ch[0])
    if cls in _BINOPS and len(ch) == 2:
        return f"{_render(ch[0])} {_BINOPS[cls]} {_render(ch[1])}"
    if cls == "Not" and ch:
        inner = ch[0]
        if P.short_class(inner) == "IsNull":
            return f"{_render(inner['_children'][0])} IS NOT NULL"
        return f"NOT {_render(inner)}"
    if cls == "IsNull" and ch:
        return f"{_render(ch[0])} IS NULL"
    if cls == "IsNotNull" and ch:
        return f"{_render(ch[0])} IS NOT NULL"
    if cls == "Cast" and ch:
        return f"CAST({_render(ch[0])} AS {_hive_type(expr.get('dataType')) or '?'})"
    if cls == "In" and ch:
        return f"{_render(ch[0])} IN ({', '.join(_render(c) for c in ch[1:])})"
    if cls == "InSubquery":
        vals = ", ".join(_render(c) for c in ch)
        return f"{vals} IN (<subquery>)"
    if cls == "Exists":
        return "EXISTS (<subquery>)"
    if cls == "ScalarSubquery":
        return "(<subquery>)"
    if cls == "UnresolvedExtractValue" and len(ch) == 2:
        return f"{_render(ch[0])}[{_render(ch[1])}]"
    if cls == "CaseWhen":
        return "CASE WHEN " + " ".join(_render(c) for c in ch) + " END"
    if ch:
        return f"{cls.lower()}({', '.join(_render(c) for c in ch)})"
    return cls.lower()


def _is_count(expr: P.Node) -> bool:
    return (
        P.short_class(expr) == "UnresolvedFunction"
        and [p.lower() for p in P.parts(expr.get("nameParts"))][-1:] == ["count"]
    )


def _collect_refs(expr: P.Node) -> list:
    """All column references in an expression subtree; '*' inside a
    function yields the asterisk sentinel (visitExpr_func_param_any:430-462).
    Subquery plans are NOT descended (they resolve in their own scope)."""
    out: list = []

    def walk(e):
        if not isinstance(e, dict) or "class" not in e:
            return
        cls = P.short_class(e)
        if cls == "UnresolvedAttribute":
            out.append(P.parts(e.get("nameParts")))
            return
        if cls == "UnresolvedStar":
            out.append(_ASTERISK_MARK)
            return
        if cls in ("ScalarSubquery", "Exists", "InSubquery", "ListQuery"):
            # correlation handled inside the subquery's own scope; outer
            # values of InSubquery still walk
            if cls == "InSubquery":
                for c in e.get("_children", []):
                    walk(c)
            return
        for c in e.get("_children", []):
            walk(c)

    walk(expr)
    return out


def _collect_subplans(expr: P.Node) -> list[P.Node]:
    """Embedded subquery plans (EXISTS / IN (SELECT) / scalar subqueries)."""
    out: list[P.Node] = []

    def walk(e):
        if not isinstance(e, dict):
            return
        if "class" in e and P.short_class(e) in (
            "ScalarSubquery", "Exists", "ListQuery", "LateralSubquery",
        ):
            plan = e.get("plan")
            if isinstance(plan, list) and plan and isinstance(plan[0], dict):
                out.append(plan[0])
        for v in e.values():
            if isinstance(v, dict):
                walk(v)
            elif isinstance(v, list):
                for x in v:
                    walk(x)

    walk(expr)
    return out


_TYPE_MAP = {
    "long": "BIGINT", "integer": "INT", "short": "SMALLINT",
    "byte": "TINYINT", "double": "DOUBLE", "float": "FLOAT",
    "string": "STRING", "boolean": "BOOLEAN", "date": "DATE",
    "timestamp": "TIMESTAMP", "binary": "BINARY",
}


def _hive_type(dt) -> str | None:
    """Catalyst JSON dataType → upper-case Hive-style string (§1.2)."""
    if dt is None:
        return None
    if isinstance(dt, str):
        return _TYPE_MAP.get(dt, dt.upper())
    if isinstance(dt, dict):
        t = dt.get("type")
        if t == "decimal":
            return f"DECIMAL({dt.get('precision', 10)},{dt.get('scale', 0)})"
        return str(t).upper() if t else None
    return None
