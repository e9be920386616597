"""Property-based tests (hypothesis) — beyond the reference's golden-only
strategy (SURVEY.md §5: no property tests exist upstream).

The distributed closure is checked against an independent pure-Python
BFS on random DAGs; the statement splitter against structural invariants.
"""

from __future__ import annotations

from collections import deque

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from kachess_spark.lineage.preprocess import preprocess, split_statements


# ---------------------------------------------------------------- closure


def _bfs_closure(edges: list[tuple[int, int]]) -> dict[tuple[int, int], int]:
    """Reference implementation: min-hop distances by BFS from each node."""
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, []).append(b)
    out: dict[tuple[int, int], int] = {}
    for src in adj:
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for v, d in dist.items():
            if v != src:
                out[(src, v)] = d
    return out


@st.composite
def dags(draw):
    """Random DAGs: edges only go from lower to higher node id (acyclic by
    construction, like lineage graphs)."""
    n = draw(st.integers(min_value=2, max_value=14))
    edges = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=n - 2),
                st.integers(min_value=1, max_value=n - 1),
            ).filter(lambda e: e[0] < e[1]),
            min_size=1,
            max_size=30,
            unique=True,
        )
    )
    return edges


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(dags())
def test_closure_matches_bfs(spark, edges):
    from kachess_spark.lineage.closure import transitive_closure

    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    got = {
        (r.ancestor_id, r.descendant_id): r.distance
        for r in transitive_closure(df, "src", "dst").collect()
    }
    assert got == _bfs_closure(edges)


def test_small_probe_bound(spark, monkeypatch):
    """The edge probe returns the (src, dst) tuples up to
    SMALL_GRAPH_EDGES rows, and None at exactly one row more."""
    from kachess_spark.lineage import closure as C

    monkeypatch.setattr(C, "SMALL_GRAPH_EDGES", 5)
    edges = [(1, 2), (2, 3), (2, 3), (3, 3), (4, 1), (5, 6)]
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT").coalesce(1)
    assert C._collect_small(df) is None
    assert sorted(C._collect_small(df.limit(5))) == sorted(
        df.limit(5).collect()
    )
    assert C._collect_small(df.limit(0)) == []


def test_driver_bfs_keeps_rows_with_duplicates_and_self_loops(spark):
    """Duplicate edges and self-loops reach the driver walk unfiltered
    (the probe runs no distinct) and change none of its rows: the full
    closure and the seeded lookup equal the BFS reference and the
    distributed loop, which does drop them."""
    from kachess_spark.lineage import closure as C

    edges = [(1, 2), (1, 2), (2, 2), (2, 3), (3, 1), (3, 4), (4, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    want = _bfs_closure(edges)

    def rows(frame):
        return {
            (r.ancestor_id, r.descendant_id): r.distance for r in frame.collect()
        }

    assert rows(C.transitive_closure(df, "src", "dst")) == want
    seeded = C._seeded_closure(df, "src", "dst", [2, 4], 20)
    assert rows(seeded) == {k: v for k, v in want.items() if k[0] in (2, 4)}
    old = C.SMALL_GRAPH_EDGES
    C.SMALL_GRAPH_EDGES = 0
    try:
        assert rows(C.transitive_closure(df, "src", "dst")) == want
    finally:
        C.SMALL_GRAPH_EDGES = old


# --------------------------------------------------------------- splitter


_sql_atoms = st.sampled_from(
    [
        "SELECT a FROM t",
        "SELECT ';' AS s FROM u",
        "-- comment; with semicolon\nSELECT 1",
        "INSERT INTO x VALUES (1, 'a;b')",
        "/* block; comment */ SELECT 2",
        "SELECT `weird;name` FROM v",
    ]
)


@settings(max_examples=50, deadline=None)
@given(st.lists(_sql_atoms, min_size=1, max_size=6))
def test_splitter_statement_count(stmts):
    """Joining N statements with ';' and splitting yields exactly N
    (quoted/commented semicolons never split)."""
    script = ";\n".join(stmts) + ";"
    out = split_statements(script)
    assert len(out) == len(stmts)


@settings(max_examples=30, deadline=None)
@given(
    st.dictionaries(
        st.text(alphabet="abcdefgh", min_size=1, max_size=6),
        st.text(alphabet="xyz0123", min_size=1, max_size=8),
        min_size=1,
        max_size=4,
    )
)
def test_preprocessor_substitutes_all_vars(assignments):
    """Every `set k=v;` assignment substitutes into later ${hiveconf:k}
    references; the set lines themselves are commented out."""
    lines = [f"set {k}={v};" for k, v in assignments.items()]
    refs = " ".join(f"${{hiveconf:{k}}}" for k in assignments)
    script = "\n".join(lines) + f"\nSELECT '{refs}' FROM t"
    out = preprocess(script)
    for k, v in assignments.items():
        assert f"${{hiveconf:{k}}}" not in out.split("SELECT")[1]
        assert v in out
    for k in assignments:
        assert f"-- set {k}=" in out


# ------------------------------------------------- by-name INSERT columns


def test_insert_by_name_columns(spark):
    from kachess_spark.lineage import LineageSession, fixture_metastore

    s = LineageSession(spark, fixture_metastore(), seed=1000)
    s.extract_script(
        "CREATE TABLE dw.t_byname (x bigint, y string, z int);\n"
        "INSERT INTO dw.t_byname (z, x) SELECT col103i, col100l FROM dw.tab10;"
    )
    f = {k: v.toPandas() for k, v in s.frames().items()}
    ds, si, rel = f["datasets"], f["select_items"], f["select_item_rel"]
    tgt = ds[ds.table_name == "t_byname"].id.iloc[0]
    z = si[(si.dataset_id == tgt) & (si.name == "z")].id
    x = si[(si.dataset_id == tgt) & (si.name == "x")].id
    y = si[(si.dataset_id == tgt) & (si.name == "y")].id
    zp = si[si.id.isin(rel[rel.child_select_item_id.isin(z)].parent_select_item_id)]
    xp = si[si.id.isin(rel[rel.child_select_item_id.isin(x)].parent_select_item_id)]
    assert set(zp.definition) == {"col103i"}
    assert set(xp.definition) == {"col100l"}
    assert rel[rel.child_select_item_id.isin(y)].empty  # unlisted column


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(dags())
def test_distributed_closure_path_matches_bfs(spark, edges):
    """Force the distributed iterative-self-join path (normally taken
    only above SMALL_GRAPH_EDGES) and check it against BFS too."""
    from kachess_spark.lineage import closure as C

    old = C.SMALL_GRAPH_EDGES
    C.SMALL_GRAPH_EDGES = 0
    try:
        df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
        got = {
            (r.ancestor_id, r.descendant_id): r.distance
            for r in C.transitive_closure(df, "src", "dst").collect()
        }
        assert got == _bfs_closure(edges)
    finally:
        C.SMALL_GRAPH_EDGES = old


# ------------------------------------------------- connected components


def _cc_reference(edges):
    """Reference union-find on the driver."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    # canonical = min node in component
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        lo = min(members)
        for m in members:
            out[m] = lo
    return out


@st.composite
def undirected_graphs(draw):
    n = draw(st.integers(min_value=2, max_value=16))
    edges = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=n - 1),
                st.integers(min_value=0, max_value=n - 1),
            ).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=30,
            unique=True,
        )
    )
    return edges


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(undirected_graphs())
def test_connected_components_matches_union_find(spark, edges):
    from kachess_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    got = {
        r.node: r.component_id
        for r in connected_components(df, "src", "dst").collect()
    }
    assert got == _cc_reference(edges)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(undirected_graphs())
def test_distributed_cc_path_matches_union_find(spark, edges):
    """Force the min-label-propagation path (normally taken only above
    SMALL_GRAPH_EDGES) and check it against driver union-find."""
    from kachess_spark.operators import graph as G

    old = G.SMALL_GRAPH_EDGES
    G.SMALL_GRAPH_EDGES = 0
    try:
        df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
        got = {
            r.node: r.component_id
            for r in G.connected_components(df, "src", "dst").collect()
        }
        assert got == _cc_reference(edges)
    finally:
        G.SMALL_GRAPH_EDGES = old


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=0xFFFF),
            st.integers(min_value=0, max_value=0xFFFF),
        ),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
@settings(max_examples=20, deadline=None)
def test_morton_interleave_injective(spark, pairs):
    """_spread16-based z-values must be unique for distinct (x, y) —
    collisions would silently merge unrelated key ranges in the
    clustered layout."""
    from pyspark.sql import functions as F

    from kachess_spark.operators.sinks import _spread16

    df = spark.createDataFrame(pairs, "x long, y long")
    z = _spread16(F.col("x")).bitwiseOR(F.shiftleft(_spread16(F.col("y")), 1))
    n = df.select(z.alias("z")).distinct().count()
    assert n == len(pairs)


def test_pagerank_mass_bounded(spark):
    """Integer PageRank: total rank mass never exceeds the initial
    SCALE (integer division only loses mass) and stays positive."""
    from kachess_spark.operators.pagerank import INIT, SCALE, pagerank_integer

    nodes = spark.createDataFrame([(i,) for i in range(6)], "node long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3), (0, 5)], "src long, dst long"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank_integer(nodes, edges, 5, INIT).collect()}
    total = sum(ranks.values())
    assert 0 < total <= 6 * INIT <= SCALE * 6 // 6
    assert all(r > 0 for r in ranks.values())


@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=7),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_two_phase_prefix_sum_matches_naive(spark, token_counts, block):
    """pipeline_sequence_pack's distributed two-phase prefix sum must
    equal the naive running sum for any token-count sequence and block
    size (blocks are an internal partitioning detail, invisible in the
    result)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(i, n) for i, n in enumerate(token_counts)]
    d = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint").select(
        "doc_id", "n_tokens", F.expr(f"doc_id div {block}").alias("blk")
    )
    w_local = (
        Window.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = d.withColumn(
        "local_prefix", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    blk_totals = d.groupBy("blk").agg(F.sum("n_tokens").alias("t"))
    w_blk = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    blk_prefix = blk_totals.select(
        "blk", F.coalesce(F.sum("t").over(w_blk), F.lit(0)).alias("p")
    )
    got = {
        r["doc_id"]: r["start"]
        for r in local.join(blk_prefix, "blk")
        .select(
            "doc_id", (F.col("p") + F.col("local_prefix")).alias("start")
        )
        .collect()
    }
    acc, want = 0, {}
    for i, n in rows:
        want[i] = acc
        acc += n
    assert got == want


def test_float_heavy_queries_rerun_identical(spark, sf_dir):
    """Run-order determinism: the float-heavy operators must return
    byte-identical results on a second execution in the same session
    (different task scheduling, same DECIMAL/fixed-point sums).  A raw
    double SUM would flake here under local[32] scheduling."""
    from kachess_spark import registry

    registry.load_all()
    for name in (
        "dedup_embedding_cosine",
        "sim_cosine_topk",
        "ts_ewma_smoothing",
        "stream_sliding_avg",
        "profile_outlier_mad",
        "dedup_semantic_cluster",
    ):
        fn = registry.QUERIES[name]
        first = sorted(map(tuple, fn(spark, sf_dir).collect()))
        second = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert first == second, f"{name} differs across reruns"
        assert len(first) > 0, f"{name} empty at test SF"


# ------------------------------------------------- cyclic lineage graphs


@st.composite
def cyclic_graphs(draw):
    """Random directed graphs with at least one guaranteed cycle —
    self-referencing scripts produce these; the closure must terminate
    and still report min-hop distances."""
    n = draw(st.integers(min_value=3, max_value=10))
    edges = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=n - 1),
                st.integers(min_value=0, max_value=n - 1),
            ).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=24,
            unique=True,
        )
    )
    # force a cycle through the first three nodes
    forced = [(0, 1), (1, 2), (2, 0)]
    return list(dict.fromkeys(edges + forced))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(cyclic_graphs())
def test_closure_terminates_on_cycles(spark, edges):
    """Local-BFS path on cyclic graphs: terminates, min-hop distances."""
    from kachess_spark.lineage.closure import transitive_closure

    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    got = {
        (r.ancestor_id, r.descendant_id): r.distance
        for r in transitive_closure(df, "src", "dst").collect()
    }
    assert got == _bfs_closure(edges)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(cyclic_graphs())
def test_distributed_closure_terminates_on_cycles(spark, edges):
    """Distributed iterative path on cyclic graphs: the anti-join keeps
    every (ancestor, descendant) pair at its first (minimum) distance,
    so the frontier drains instead of orbiting the cycle forever."""
    from kachess_spark.lineage import closure as C

    old = C.SMALL_GRAPH_EDGES
    C.SMALL_GRAPH_EDGES = 0
    try:
        df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
        got = {
            (r.ancestor_id, r.descendant_id): r.distance
            for r in C.transitive_closure(df, "src", "dst").collect()
        }
        assert got == _bfs_closure(edges)
    finally:
        C.SMALL_GRAPH_EDGES = old


# ------------------------------------------ seeded impact / provenance

_REL_SCHEMA = "parent_select_item_id BIGINT, child_select_item_id BIGINT"


def _rel_frame(spark, edges):
    """select_item_rel rows as a local relation (built from Arrow): the
    walk's per-hop scans then cost no Spark job, which keeps these
    examples fast; the perf guards below read list- and parquet-backed
    frames."""
    from kachess_spark.catalog import local_frame

    return local_frame(spark, edges, _REL_SCHEMA)


def _lookups(spark, edges, seeds, max_hops):
    from kachess_spark.lineage.closure import feeds_into, impacted_by

    df = _rel_frame(spark, edges)
    return tuple(
        sorted(tuple(r) for r in fn(df, seeds, max_hops).collect())
        for fn in (impacted_by, feeds_into)
    )


def _bfs_lookups(edges, seeds, max_hops):
    """The BFS closure filtered to the seeds: (descendant, distance) rows
    downstream and (ancestor, distance) rows upstream, one per
    (seed, reached column)."""
    pairs = [(a, d, n) for (a, d), n in _bfs_closure(edges).items() if n <= max_hops]
    seeds = set(seeds)
    down = sorted((d, n) for a, d, n in pairs if a in seeds)
    up = sorted((a, n) for a, d, n in pairs if d in seeds)
    return down, up


@st.composite
def seeded_graphs(draw, graphs):
    """(edges, seeds, max_hops): the seeds hold both ends of one edge (a
    seed that is a descendant of another seed) plus random extra seeds,
    duplicates and ids outside the graph among them."""
    edges = draw(graphs)
    nodes = sorted({v for e in edges for v in e})
    extra = draw(st.lists(st.sampled_from(nodes + [-1, 10_000]), max_size=5))
    seeds = draw(st.permutations(list(draw(st.sampled_from(edges))) + extra))
    return edges, seeds, draw(st.sampled_from([20, 1, 2]))


_DIAMOND = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (6, 4)]


@st.composite
def noisy_graphs(draw):
    """(edges, raw): a graph and its edge rows with duplicate rows and
    self-loops mixed in, one on a node outside the graph."""
    edges = draw(st.one_of(dags(), cyclic_graphs()))
    nodes = sorted({v for e in edges for v in e})
    dups = draw(st.lists(st.sampled_from(edges), min_size=1, max_size=10))
    loops = draw(st.lists(st.sampled_from(nodes + [99]), min_size=1, max_size=4))
    return edges, draw(st.permutations(edges + dups + [(v, v) for v in loops]))


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(noisy_graphs())
@example((_DIAMOND, _DIAMOND + [(1, 2), (4, 5), (4, 4), (99, 99)]))
def test_closure_ignores_duplicate_edges_and_self_loops(spark, case):
    """The full closure's size probe reads the raw edges (no distinct),
    so duplicate rows and self-loops reach the driver BFS: they change no
    pair and no distance there, nor in the distributed loop."""
    from kachess_spark.lineage import closure as C

    edges, raw = case
    df = spark.createDataFrame(raw, "src BIGINT, dst BIGINT")
    old = C.SMALL_GRAPH_EDGES
    try:
        for limit in (old, 0):
            C.SMALL_GRAPH_EDGES = limit
            got = [
                ((r.ancestor_id, r.descendant_id), r.distance)
                for r in C.transitive_closure(df, "src", "dst").collect()
            ]
            assert len(got) == len(dict(got))
            assert dict(got) == _bfs_closure(edges)
    finally:
        C.SMALL_GRAPH_EDGES = old


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(seeded_graphs(st.one_of(dags(), cyclic_graphs())))
@example((_DIAMOND, [1, 6], 20))  # seeds sharing descendants 4 and 5
@example((_DIAMOND, [1, 4], 20))  # seed 4 is a descendant of seed 1
@example((_DIAMOND, [2, 2, 99], 20))  # a duplicate and an unknown seed
@example((_DIAMOND, [1], 2))  # max_hops cuts 1 -> 5 (three hops)
def test_seeded_lookups_match_bfs(spark, case):
    """impacted_by / feeds_into walk from their seeds only; the result
    must equal the full closure filtered to the seeds, a seed on a cycle
    leaving itself out as the closure does.  Checked on the driver walk
    of a metadata-sized graph, and on the walk that scans once per hop:
    unrelated edges put the graph above a SMALL_GRAPH_EDGES that the walk
    itself (every edge plus one pair per seed and column) never reaches."""
    from kachess_spark.lineage import closure as C

    edges, seeds, max_hops = case
    nodes = {v for e in edges for v in e}
    threshold = len(edges) + len(set(seeds)) * len(nodes)
    padded = edges + [
        (10**6 + i, 2 * 10**6 + i) for i in range(threshold + 1 - len(edges))
    ]
    old = C.SMALL_GRAPH_EDGES
    try:
        for limit, graph in ((old, edges), (threshold, padded)):
            C.SMALL_GRAPH_EDGES = limit
            assert _lookups(spark, graph, seeds, max_hops) == _bfs_lookups(
                edges, seeds, max_hops
            )
    finally:
        C.SMALL_GRAPH_EDGES = old


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(seeded_graphs(st.one_of(dags(), cyclic_graphs())))
def test_seeded_lookups_distributed_fallback_matches_bfs(spark, case):
    """With SMALL_GRAPH_EDGES = 0 the walk hands its pairs and frontier to
    the distributed loop at the first hop that reaches anything."""
    from kachess_spark.lineage import closure as C

    edges, seeds, max_hops = case
    old = C.SMALL_GRAPH_EDGES
    C.SMALL_GRAPH_EDGES = 0
    try:
        assert _lookups(spark, edges, seeds, max_hops) == _bfs_lookups(
            edges, seeds, max_hops
        )
    finally:
        C.SMALL_GRAPH_EDGES = old


@pytest.mark.parametrize(
    "edges, seeds, threshold",
    [
        # one seed -> 5 hubs -> 50 leaves each: the hop-2 scan would
        # collect 250 edges
        (
            [(0, h) for h in range(1, 6)]
            + [(h, 100 * h + k) for h in range(1, 6) for k in range(50)],
            [0],
            20,
        ),
        # 5 seeds -> one shared column -> 2 more: few edges, but hop 2
        # would hold 10 more pairs (plus unrelated edges above the threshold)
        (
            [(s, 100) for s in range(5)]
            + [(100, 101), (100, 102)]
            + [(1000 + i, 2000 + i) for i in range(20)],
            list(range(5)),
            14,
        ),
    ],
    ids=["fan_out", "shared_descendants"],
)
def test_seeded_walk_hands_over_before_passing_threshold(
    spark, monkeypatch, edges, seeds, threshold
):
    """On a graph above SMALL_GRAPH_EDGES the walk never holds more than
    that many edges and pairs on the driver: every collect is bounded, and
    the scan or hop that would pass the threshold starts the distributed
    loop from the pairs found before it."""
    from kachess_spark.lineage import closure as C

    df = spark.createDataFrame(edges, _REL_SCHEMA)
    collected, handed_over = [], []
    collect, semi_naive = type(df).collect, C._semi_naive

    def counting_collect(self):
        rows = collect(self)
        collected.append(len(rows))
        return rows

    def spy(base, closure, frontier, first_hop, max_hops):
        handed_over.append(closure.count())
        return semi_naive(base, closure, frontier, first_hop, max_hops)

    monkeypatch.setattr(C, "SMALL_GRAPH_EDGES", threshold)
    monkeypatch.setattr(C, "_semi_naive", spy)
    monkeypatch.setattr(type(df), "collect", counting_collect)
    out = C.impacted_by(df, seeds)
    monkeypatch.undo()
    assert len(handed_over) == 1 and handed_over[0] <= threshold
    assert max(collected) <= threshold + 1
    assert sorted(tuple(r) for r in out.collect()) == _bfs_lookups(edges, seeds, 20)[0]


def _job_ids(spark) -> set[int]:
    sc = spark.sparkContext
    # job and stage events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _shuffle_write_bytes(spark, job_ids) -> int:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    total = 0
    for j in job_ids:
        for sid in sc.statusTracker().getJobInfo(j).stageIds:
            attempts = store.stageData(
                sid, False, sc._jvm.java.util.ArrayList(), False, None
            )
            for k in range(attempts.length()):
                total += attempts.apply(k).shuffleWriteBytes()
    return total


def test_seeded_lookups_empty_ids_run_no_job(spark):
    from kachess_spark.lineage.closure import feeds_into, impacted_by

    df = spark.createDataFrame(_DIAMOND, _REL_SCHEMA)
    for fn in (impacted_by, feeds_into):
        before = _job_ids(spark)
        out = fn(df, [])
        assert out.collect() == []
        assert _job_ids(spark) == before
        assert out.schema == fn(df, [1]).schema


def test_impacted_by_chain_scans_once_per_hop(spark):
    """Perf guard: on a depth-d chain impacted_by runs at most d + 1 Spark
    jobs and shuffles nothing — the full closure (distinct, per-round
    joins and checkpoints) is never built.  A chain this small is
    metadata-sized: one bounded collect, then a driver walk."""
    from kachess_spark.lineage.closure import impacted_by

    depth = 6
    df = spark.createDataFrame([(i, i + 1) for i in range(depth)], _REL_SCHEMA)
    before = _job_ids(spark)
    rows = impacted_by(df, [0]).collect()
    jobs = _job_ids(spark) - before
    assert sorted(tuple(r) for r in rows) == [(i, i) for i in range(1, depth + 1)]
    assert len(jobs) <= depth + 1
    assert _shuffle_write_bytes(spark, jobs) == 0


def test_impacted_by_large_graph_scans_once_per_hop(spark, monkeypatch, tmp_path):
    """Perf guard for a graph above SMALL_GRAPH_EDGES, read from parquet as
    a data-sized edge table would be: the bounded size probe, then one
    filtered scan per hop (the last one finding nothing), so at most
    d + 2 jobs on a depth-d chain, and no shuffle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kachess_spark.lineage import closure as C

    depth = 6
    chain = [(i, i + 1) for i in range(depth)]
    other = [(1000 + i, 2000 + i) for i in range(40)]
    path = str(tmp_path / "select_item_rel.parquet")
    pq.write_table(
        pa.table(
            {
                "parent_select_item_id": [a for a, _ in chain + other],
                "child_select_item_id": [b for _, b in chain + other],
            }
        ),
        path,
    )
    df = spark.read.parquet(path)
    monkeypatch.setattr(C, "SMALL_GRAPH_EDGES", 3 * depth)
    before = _job_ids(spark)
    rows = C.impacted_by(df, [0]).collect()
    jobs = _job_ids(spark) - before
    assert sorted(tuple(r) for r in rows) == [(i, i) for i in range(1, depth + 1)]
    assert len(jobs) <= depth + 2
    assert _shuffle_write_bytes(spark, jobs) == 0


# ------------------------------------------------- substring-span cut


_CUT_VOCAB = [
    "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
    "iota", "kappa",
]


@st.composite
def _cut_corpora(draw):
    """Random corpora with planted shared passages long enough to
    exceed SUBRUN_MIN shingles (>= 10 words), plus random filler."""
    n_phr = draw(st.integers(min_value=1, max_value=2))
    phrases = [
        [
            draw(st.sampled_from(_CUT_VOCAB))
            for _ in range(draw(st.integers(min_value=10, max_value=14)))
        ]
        for _ in range(n_phr)
    ]
    docs = []
    for _ in range(draw(st.integers(min_value=2, max_value=5))):
        words: list[str] = []
        for _ in range(draw(st.integers(min_value=1, max_value=3))):
            if draw(st.booleans()):
                words += phrases[
                    draw(st.integers(min_value=0, max_value=n_phr - 1))
                ]
            else:
                words += [
                    draw(st.sampled_from(_CUT_VOCAB))
                    for _ in range(draw(st.integers(min_value=0, max_value=6)))
                ]
        docs.append(" ".join(words))
    return docs


def _ref_cut(texts: dict[int, str]):
    """Independent pure-Python model of the exact-substring cut:
    positional 3-gram postings, df-cap, per-(pair, diagonal) runs of
    length >= SUBRUN_MIN marking the HIGHER doc's positions, union of
    covered positions excised (keep-first)."""
    from collections import defaultdict

    from kachess_spark.pipeline.dedup import SUBRUN_DF_CAP, SUBRUN_MIN

    canon = {d: t.lower().split(" ") for d, t in texts.items()}
    posts: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for d, ws in canon.items():
        if len(ws) < 3:
            continue
        for i in range(len(ws) - 2):
            posts[" ".join(ws[i : i + 3])].append((d, i))
    keep = {
        sh
        for sh, v in posts.items()
        if 2 <= len({d for d, _ in v}) <= SUBRUN_DF_CAP
    }
    diag: dict[tuple[int, int, int], set[int]] = defaultdict(set)
    for sh in keep:
        v = posts[sh]
        for da, pa in v:
            for db, pb in v:
                if da < db:
                    diag[(da, db, pa - pb)].add(pb)
    covered: dict[int, set[int]] = defaultdict(set)
    for (da, db, _), pbs in diag.items():
        run: list[int] = []
        for p in sorted(pbs) + [None]:
            if run and (p is None or p != run[-1] + 1):
                if len(run) >= SUBRUN_MIN:
                    covered[db].update(range(run[0], run[0] + len(run) + 2))
                run = []
            if p is not None:
                run.append(p)
    out = {}
    for d, ws in canon.items():
        cleaned = [w for i, w in enumerate(ws) if i not in covered[d]]
        out[d] = (len(ws), len(cleaned), " ".join(cleaned))
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_cut_corpora())
def test_cut_spans_matches_reference(spark, tmp_path_factory, docs):
    """dedup_cut_spans on random planted-passage corpora matches an
    independent pure-Python model of the whole pipeline (postings,
    df-cap, diagonal runs, island merge via position union, cut)."""
    import pandas as pd

    from kachess_spark.pipeline.dedup import dedup_cut_spans

    texts = {i + 1: t for i, t in enumerate(docs)}
    pdf = pd.DataFrame(
        {
            "doc_id": list(texts.keys()),
            "text": list(texts.values()),
            "lang": "en",
            "source": "hyp",
            "n_chars": [len(t) for t in texts.values()],
        }
    )
    sf = tmp_path_factory.mktemp("cut_hyp")
    pdf.to_parquet(str(sf / "documents.parquet"), index=False)
    got = {
        r["doc_id"]: (r["n_words"], r["n_kept"], r["cleaned_text"])
        for r in dedup_cut_spans(spark, str(sf)).collect()
    }
    assert got == _ref_cut(texts)
