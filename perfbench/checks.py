"""Output checks, independent of the code under test.

Each check returns a list of problems (empty means correct).  They run
once per run, outside the timed windows, on outputs of the same calls
the timed passes make.
"""

from __future__ import annotations

from collections import defaultdict


def physical_table_deps(datasets, dataset_rel) -> set[tuple[str, str]]:
    """Project a dataset graph onto physical tables.

    ``datasets``: rows with ``id, type, schema_name, table_name``;
    ``dataset_rel``: ``(parent_dataset_id, child_dataset_id)`` pairs.
    Returns every ``("schema.table", "schema.table")`` pair where the
    first table reaches the second through non-TABLE datasets only
    (CTEs, subqueries, lateral views).
    """
    tables = {
        int(r["id"]): f"{r['schema_name']}.{r['table_name']}".lower()
        for r in datasets
        if r["type"] == "TABLE"
    }
    children = defaultdict(list)
    for p, c in dataset_rel:
        children[int(p)].append(int(c))
    out: set[tuple[str, str]] = set()
    for src, name in tables.items():
        seen, todo = {src}, list(children[src])
        while todo:
            node = todo.pop()
            if node in seen:
                continue
            seen.add(node)
            if node in tables:
                if tables[node] != name:
                    out.add((name, tables[node]))
            else:
                todo.extend(children[node])
    return out


def check_table_deps(known: set[tuple[str, str]], got: set[tuple[str, str]]) -> list[str]:
    problems = []
    missing, extra = sorted(known - got), sorted(got - known)
    if missing:
        problems.append(f"{len(missing)} table dependencies missing, e.g. {missing[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected table dependencies, e.g. {extra[:3]}")
    return problems


def duckdb_closure(edges_path: str, max_hops: int = 20) -> set[tuple[int, int, int]]:
    """(ancestor, descendant, min distance) by DuckDB ``WITH RECURSIVE``
    over the same parquet edge file."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            WITH RECURSIVE e AS (
                SELECT DISTINCT parent_select_item_id AS a, child_select_item_id AS d
                FROM read_parquet('{edges_path}') WHERE a <> d
            ), c(a, d, dist) AS (
                SELECT a, d, 1 FROM e
                UNION
                SELECT c.a, e.d, c.dist + 1 FROM c JOIN e ON c.d = e.a
                WHERE c.dist < {max_hops} AND c.a <> e.d
            )
            SELECT a, d, min(dist) FROM c GROUP BY a, d
            """
        ).fetchall()
    finally:
        con.close()
    return {(int(a), int(d), int(n)) for a, d, n in rows}


def check_closure(expected: set[tuple[int, int, int]], got: set[tuple[int, int, int]]) -> list[str]:
    problems = []
    if len(got) != len(expected):
        problems.append(f"closure rowcount: got {len(got)}, expected {len(expected)}")
    missing, extra = expected - got, got - expected
    if missing:
        problems.append(f"{len(missing)} closure pairs missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} closure pairs wrong or extra, e.g. {sorted(extra)[:3]}")
    return problems


def check_impact(
    closure: set[tuple[int, int, int]], ids: list[int], got: set[tuple[int, int]]
) -> list[str]:
    """``impacted_by(ids)`` must be the closure rows whose ancestor is in
    ``ids``, as (descendant, distance)."""
    want = {(d, n) for a, d, n in closure if a in set(ids)}
    if got != want:
        return [f"impact set: got {len(got)} rows, expected {len(want)}"]
    return []


def check_oracle(name: str, spark_pdf, duck_pdf) -> list[str]:
    """The repository's parity rule (tools/check_parity.compare)."""
    from tools.check_parity import compare

    return compare(name, spark_pdf, duck_pdf)
