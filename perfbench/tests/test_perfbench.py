"""Tests of the benchmark itself: generator determinism, size bounds, and
that the output checks catch planted wrong answers.  No Spark needed.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.run import END_TO_END, per_layer_units  # noqa: E402
from perfbench.workloads import SQL_QUERIES, WORKLOADS  # noqa: E402


def _closure(edges) -> set[tuple[int, int, int]]:
    """Reference BFS closure with minimum distances."""
    kids = defaultdict(list)
    for a, b in edges:
        kids[int(a)].append(int(b))
    out = set()
    for src in list(kids):
        dist, todo = {src: 0}, [src]
        while todo:
            nxt = []
            for u in todo:
                for v in kids.get(u, []):
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        nxt.append(v)
            todo = nxt
        out |= {(src, v, d) for v, d in dist.items() if v != src}
    return out


def test_warehouse_is_deterministic():
    a, b = gen.warehouse(5, 40), gen.warehouse(5, 40)
    assert a.scripts == b.scripts
    assert a.table_deps == b.table_deps
    assert gen.warehouse(6, 40).scripts != a.scripts


def test_warehouse_shapes_and_chains():
    wh = gen.warehouse(3, 80)
    text = "\n".join(wh.scripts)
    for kw in ("CREATE TABLE", "PARTITION (ds=", "WITH base AS", "JOIN", "UNION ALL",
               "LATERAL VIEW", "GROUP BY", "inner_q"):
        assert kw in text
    # later scripts read earlier derived tables, so chains deepen
    assert any(src.startswith("dw.") for src, _ in wh.table_deps)
    assert wh.statements == text.count(";")


def test_column_dag_is_deterministic_and_bounded():
    e1 = gen.column_dag(9, layer_width=300, depth=4)
    assert (e1 == gen.column_dag(9, layer_width=300, depth=4)).all()
    assert not (e1 == gen.column_dag(10, layer_width=300, depth=4)).all()
    assert len(e1) == 300 * 4
    assert len(_closure(e1)) == gen.closure_size(300, 4)
    e2 = gen.column_dag(9, layer_width=50, depth=3, fan_in=2)
    assert len(e2) == 50 * 3 * 2
    assert len({tuple(x) for x in e2.tolist()}) == len(e2)  # parents distinct
    # a node at layer L has at most f + f^2 + ... + f^L ancestors
    bound = 50 * sum(sum(2**d for d in range(1, layer + 1)) for layer in range(1, 4))
    assert len(_closure(e2)) <= bound


def test_benchmark_sizes_take_the_intended_closure_branch():
    from perfbench import workloads as w

    edges = w.DAG_LAYER_WIDTH * w.DAG_DEPTH * w.DAG_FAN_IN
    assert edges > 50_000  # closure.SMALL_GRAPH_EDGES: distributed branch


def test_tables_are_byte_identical(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 4, sf=0.001)
    gen.write_tables(str(tmp_path / "b"), 4, sf=0.001)
    for name in os.listdir(tmp_path / "a"):
        da = hashlib.sha256((tmp_path / "a" / name).read_bytes()).hexdigest()
        db = hashlib.sha256((tmp_path / "b" / name).read_bytes()).hexdigest()
        assert da == db, name


def test_table_dep_check_catches_a_dropped_edge():
    datasets = [
        {"id": 1, "type": "TABLE", "schema_name": "src", "table_name": "b0"},
        {"id": 2, "type": "SUBQUERY", "schema_name": None, "table_name": None},
        {"id": 3, "type": "TABLE", "schema_name": "dw", "table_name": "t0"},
        {"id": 4, "type": "CTE", "schema_name": None, "table_name": None},
        {"id": 5, "type": "TABLE", "schema_name": "dw", "table_name": "t1"},
    ]
    rel = [(1, 2), (2, 3), (3, 4), (4, 5)]
    known = {("src.b0", "dw.t0"), ("dw.t0", "dw.t1")}
    assert checks.check_table_deps(known, checks.physical_table_deps(datasets, rel)) == []
    dropped = checks.physical_table_deps(datasets, rel[:-1])
    assert checks.check_table_deps(known, dropped)


def _write_edges(path, edges):
    pq.write_table(
        pa.table(
            {
                "parent_select_item_id": pa.array([int(a) for a, _ in edges], pa.int64()),
                "child_select_item_id": pa.array([int(b) for _, b in edges], pa.int64()),
            }
        ),
        path,
    )


def test_closure_check_catches_a_dropped_edge(tmp_path):
    edges = gen.column_dag(2, layer_width=40, depth=3).tolist()
    path = str(tmp_path / "e.parquet")
    _write_edges(path, edges)
    expected = checks.duckdb_closure(path)
    assert expected == _closure(edges)
    assert checks.check_closure(expected, _closure(edges)) == []
    wrong = _closure(edges[1:])  # a program that loses one edge
    assert checks.check_closure(expected, wrong)


def test_impact_check_catches_a_missing_row():
    cl = {(1, 2, 1), (2, 3, 1), (1, 3, 2)}
    assert checks.check_impact(cl, [1], {(2, 1), (3, 2)}) == []
    assert checks.check_impact(cl, [1], {(2, 1)})


def test_oracle_check_catches_a_wrong_row():
    pd = pytest.importorskip("pandas")
    good = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]})
    assert checks.check_oracle("q", good, good.copy()) == []
    assert checks.check_oracle("q", good, pd.DataFrame({"k": [1, 2], "v": [1.5, 9.0]}))


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units(SQL_QUERIES)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
