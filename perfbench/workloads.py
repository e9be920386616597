"""The two workloads: what is built, warmed, timed and checked.

``lineage_warehouse`` is the paper's own path: SQL scripts go through
``LineageSession.extract_script`` (preprocess -> Catalyst parse ->
plan-JSON decode -> scope walk), then ``frames()``, the column closure
(driver-BFS branch: the graph stays below ``closure.SMALL_GRAPH_EDGES``)
and the provenance report.  Spark is nearly idle.

``closure_sql`` keeps the extractor idle and loads Spark: one
``impacted_by`` lookup, which materializes the distributed closure over
a layered column DAG above the BFS threshold, and three registry queries
covering the query-capability layer (windows, streaming windows,
exact-cosine top-k).
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import statistics

from perfbench import checks, gen

# three of bench.py's HEADLINE (headline_18) queries; see README.md
SQL_QUERIES = (
    "win_rank_topk",
    "stream_tumbling_counts",
    "sim_cosine_topk",
)

# sizes (see README.md for why)
WAREHOUSE_SCRIPTS = 80
WAREHOUSE_BASE_TABLES = 12
WAREHOUSE_FAN_IN = 2
DAG_LAYER_WIDTH = 25_500
DAG_DEPTH = 2
DAG_FAN_IN = 1
TABLES_SF = 0.01
IMPACT_IDS = 4


def _digest(paths_or_text) -> str:
    h = hashlib.sha256()
    for item in paths_or_text:
        if os.path.isfile(item):
            with open(item, "rb") as fh:
                h.update(fh.read())
        else:
            h.update(item.encode())
    return h.hexdigest()


def _m(value: float, unit: str, samples: int, **extra) -> dict:
    return {"value": value, "unit": unit, "samples": samples, **extra}


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


class Workload:
    """One workload.  ``build`` makes the inputs from the seed (repeated
    for set-up timing); ``warm_and_check`` runs the untimed warm-up and
    checks its outputs; ``ops`` lists the operations of one timed pass."""

    name = ""
    uses_registry = False  # needs registry.load_all() before the session

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.digest = ""

    def calls(self, spans) -> list[float]:
        """Latencies (seconds) of the unit calls among one pass's spans,
        for the named per-call metrics."""
        return []

    def warm_pass(self, skip: tuple[str, ...] = ()) -> int:
        """One untimed pass without the operations in ``skip``; returns the
        number of operations run."""
        from perfbench.trace import Tracer

        ops = [(name, fn) for name, fn in self.ops(Tracer()) if name not in skip]
        for _, fn in ops:
            fn()
            self.after_op()
        return len(ops)

    def after_op(self) -> None:
        pass

    def check_after(self) -> tuple[int, list[str]]:
        """Checks on the outputs of the last timed pass."""
        return 0, []

    def layer_wraps(self, tracer) -> None:
        from kachess_spark.lineage import closure

        tracer.wrap(closure, "_closure_bfs_local", "closure.bfs")
        tracer.wrap(closure, "transitive_closure", "closure.call")
        # the distributed closure probes isEmpty once per hop
        tracer.wrap(type(self.spark.range(1)), "isEmpty", "closure.round")


class LineageWarehouse(Workload):
    name = "lineage_warehouse"

    def build(self, out_dir: str) -> None:
        from kachess_spark.lineage import Metastore

        self.wh = gen.warehouse(
            self.seed, WAREHOUSE_SCRIPTS, WAREHOUSE_BASE_TABLES, WAREHOUSE_FAN_IN
        )
        ms = Metastore()
        for key, cols in self.wh.base_tables.items():
            schema, table = key.split(".")
            ms.register(schema, table, cols)
        self.metastore = ms
        self.digest = _digest(self.wh.scripts)

    def ops(self, tracer):
        from kachess_spark.lineage import LineageSession, closure, export

        state = {}

        def extract():
            session = LineageSession(self.spark, self.metastore, lenient=True)
            for i, text in enumerate(self.wh.scripts):
                # the Airflow-style provenance tag run_batch derives from
                # the file name
                session.source_tag = f"warehouse.script_{i:04d}"
                with tracer.span("script"):
                    session.extract_script(text)
            session.close()
            state["session"] = session

        def frames():
            state["frames"] = state["session"].frames()

        def column_closure():
            state["column_pairs"] = closure.column_lineage(
                state["frames"]["select_item_rel"]
            ).count()

        def report():
            export.provenance_report(state["frames"]).count()

        self.state = state
        return [
            ("extract", extract),
            ("frames", frames),
            ("column_closure", column_closure),
            ("report", report),
        ]

    def warm_and_check(self) -> tuple[int, list[str]]:
        """A warm-up pass and a second one without the report (after one
        pass the JIT is still compiling the parse and BFS paths, which
        shows as spread), then checks on the outputs."""
        n_ops = self.warm_pass() + self.warm_pass(skip=("report",))
        session, fr = self.state["session"], self.state["frames"]
        problems = []
        if session.skipped:
            problems.append(
                f"{len(session.skipped)} statements skipped, e.g. {session.skipped[0][1]}"
            )
        got = checks.physical_table_deps(
            [r.asDict() for r in fr["datasets"].collect()],
            [(r[0], r[1]) for r in fr["dataset_rel"].collect()],
        )
        problems += checks.check_table_deps(self.wh.table_deps, got)
        return n_ops + 2, problems

    def layer_constants(self) -> dict[str, float]:
        session = self.state["session"]
        store = session.store
        items = sum(
            len(d.items) + len(d.filter_items) + len(d.join_items) for d in store.datasets
        )
        return {
            "extract.parsed_frac": 1.0 - len(session.skipped) / self.wh.statements,
            "graph.datasets": len(store.datasets),
            "graph.items": items,
            "graph.edges": self.state["frames"]["select_item_rel"].count(),
            "closure.pairs": self.state["column_pairs"],
        }

    def named_metrics(self, e2e: dict) -> dict:
        scripts = e2e["calls"]
        ops = e2e["steps"]
        p95 = _pct(scripts, 0.95)
        return {
            "extract_scripts_per_s": _m(len(self.wh.scripts) / ops["extract"], "1/s", len(e2e["passes"])),
            "script_p50_ms": _m(statistics.median(scripts) * 1e3, "ms", len(scripts)),
            "script_p95_ms": _m(
                p95 * 1e3, "ms", len(scripts), beyond=sum(1 for x in scripts if x > p95)
            ),
            "lineage_e2e_s": _m(statistics.median(e2e["passes"]), "s", len(e2e["passes"])),
        }

    def calls(self, spans) -> list[float]:
        return [s.dur for s in spans if s.name == "script"]

    def layer_wraps(self, tracer) -> None:
        from kachess_spark.lineage import extractor, model, planjson

        super().layer_wraps(tracer)
        for fn in ("preprocess", "split_statements", "rewrite_dialect", "unsupported_reason"):
            tracer.wrap(extractor, fn, "preprocess")
        tracer.wrap(planjson, "parse_statement", "parse")
        tracer.wrap(model, "frames", "frames.model")


class ClosureSql(Workload):
    name = "closure_sql"
    uses_registry = True

    def build(self, out_dir: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(out_dir, exist_ok=True)
        edges = gen.column_dag(self.seed, DAG_LAYER_WIDTH, DAG_DEPTH, DAG_FAN_IN)
        self.edges_path = os.path.join(out_dir, "select_item_rel.parquet")
        pq.write_table(
            pa.table(
                {
                    "parent_select_item_id": edges[:, 0],
                    "child_select_item_id": edges[:, 1],
                    "usage_context": pa.array(["SELECT"] * len(edges)),
                }
            ),
            self.edges_path,
        )
        self.data_dir = os.path.join(out_dir, "tables")
        gen.write_tables(self.data_dir, self.seed, TABLES_SF)
        rng = random.Random(self.seed)
        self.impact_ids = sorted(rng.sample(sorted({int(p) for p in edges[:, 0]}), IMPACT_IDS))
        self.rel = self.spark.read.parquet(self.edges_path)
        files = [self.edges_path] + sorted(
            os.path.join(self.data_dir, f) for f in os.listdir(self.data_dir)
        )
        self.digest = _digest(files)

    def ops(self, tracer):
        from kachess_spark import registry
        from kachess_spark.lineage import closure

        spark, d = self.spark, self.data_dir

        def impact():
            # a handful of rows: collecting costs no more than counting,
            # and the timed result is checked
            self.impact_rows = closure.impacted_by(self.rel, self.impact_ids).collect()

        out = [("impact", impact)]
        for name in SQL_QUERIES:
            fn = registry.QUERIES[name]
            out.append((f"q.{name}", lambda fn=fn: fn(spark, d).count()))
        return out

    def after_op(self) -> None:
        # operators that persist() intermediates must not leak cached
        # relations into the next operation's timing (as bench.py does)
        self.spark.catalog.clearCache()

    def warm_and_check(self) -> tuple[int, list[str]]:
        """The warm-up pass collects every output and checks it: closure
        vs DuckDB WITH RECURSIVE and every query vs its registry oracle.
        The impact lookup shares the closure's plan; its timed result
        is checked by ``check_after``."""
        from kachess_spark import registry
        from kachess_spark.lineage import closure
        from tools.check_parity import duck_connect

        problems = []
        expected = checks.duckdb_closure(self.edges_path)
        pdf = closure.column_lineage(self.rel).toPandas()
        got = set(zip(*(pdf[c].astype("int64").tolist() for c in pdf.columns)))
        problems += checks.check_closure(expected, got)
        self.expected_closure = expected
        con = duck_connect(self.data_dir)
        try:
            for name in SQL_QUERIES:
                sdf = registry.QUERIES[name](self.spark, self.data_dir).toPandas()
                self.spark.catalog.clearCache()
                ddf = con.execute(registry.ORACLES[name]).arrow().to_pandas()
                problems += [f"{name}: {p}" for p in checks.check_oracle(name, sdf, ddf)]
        finally:
            con.close()
        self.closure_pairs = len(got)
        return 1 + len(SQL_QUERIES), problems

    def check_after(self) -> tuple[int, list[str]]:
        imp = {(int(r[0]), int(r[1])) for r in self.impact_rows}
        return 1, checks.check_impact(self.expected_closure, self.impact_ids, imp)

    def layer_constants(self) -> dict[str, float]:
        return {"closure.pairs": self.closure_pairs}

    def named_metrics(self, e2e: dict) -> dict:
        n = len(e2e["passes"])
        ops = e2e["steps"]
        qs = [ops[f"q.{q}"] for q in SQL_QUERIES]
        return {
            "impact_lookup_s": _m(ops["impact"], "s", n),
            "sql_suite_s": _m(sum(qs), "s", n),
            "sql_geomean_s": _m(math.exp(sum(math.log(q) for q in qs) / len(qs)), "s", n),
        }


WORKLOADS = {w.name: w for w in (LineageWarehouse, ClosureSql)}
