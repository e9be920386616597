"""Transitive lineage closure + impact analysis — distributed.

Fills the reference's summary tables (db_setup_ddl.sql: ``table_lineage``
:164-176, ``column_lineage`` with hop-count ``distance`` :178-190 — the
schema notes they "may be populated later", i.e. computed downstream of the
parser; validate_0010.sql builds the same closure ad hoc with scratch
tables).

At enterprise scale the edge set is the one lineage artifact that is
data-sized (10⁶–10⁸ edges), so closure runs as an iterative DataFrame
self-join (BFS over the DAG), not a driver-side walk:

* each round joins the frontier to the edge table on ``_src``; every
  round is a separate action over a fresh plan, so the edge table's
  ``distinct`` and ``repartition`` exchanges are re-run each round;
* ``storageLevel``/localCheckpoint truncates the logical plan per round so
  the lineage of a 20-hop graph doesn't build a 20-deep plan;
* convergence by empty-frontier count (an AQE-sized count, cheap);
* ``max_hops`` caps pathological cycles (self-referencing scripts).

Seeded lookups (``impacted_by``, ``feeds_into``, and the dashboard walk in
export.py) never build the whole closure; they walk from their seed
columns only.  A metadata-sized edge frame (≤ SMALL_GRAPH_EDGES edges,
found by one bounded collect) is walked on the driver, as the full
closure is.  A larger one is walked one hop per filtered scan (``src IN
frontier``, pushed into a parquet scan), collecting only the edges that
leave the frontier and keeping one visited-set per seed.  That walk holds
at most SMALL_GRAPH_EDGES edges and pairs on the driver: the first scan
or hop that would hold more hands the pairs found before it, and their
frontier, to the same distributed loop the full closure runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# below this many edges the graph is metadata-sized: a driver-side BFS
# beats paying per-iteration job/checkpoint overhead (the distributed
# loop only wins when the edge set itself needs a cluster).  A seeded walk
# over a larger graph holds at most this many edges plus pairs.
SMALL_GRAPH_EDGES = 50_000

_CLOSURE_SCHEMA = "ancestor_id BIGINT, descendant_id BIGINT, distance INT"


def _bfs_hop(
    seen: dict[int, dict[int, int]],
    frontier: dict[int, dict[int, int]],
    out_edges: dict[int, list[int]],
    hop: int,
    budget: float,
) -> dict[int, dict[int, int]] | None:
    """One BFS level run from every seed at once: the columns each seed
    first reaches at ``hop`` from its ``frontier``, added to its
    visited-set in ``seen`` (so each pair keeps its minimum distance, and
    a seed never re-enters its own set).  Returns the new frontier, or
    None, with ``seen`` left as it was, if it would add more than
    ``budget`` pairs."""
    reached: dict[int, dict[int, int]] = {}
    for s, f in frontier.items():
        dist, new = seen[s], {}
        for u in f:
            for v in out_edges.get(u, ()):
                if v not in dist and v not in new:
                    new[v] = hop
                    budget -= 1
                    if budget < 0:
                        return None
        if new:
            reached[s] = new
    for s, new in reached.items():
        seen[s].update(new)
    return reached


def _start(seeds) -> tuple[dict[int, dict[int, int]], dict[int, dict[int, int]]]:
    """Visited-sets and frontiers (column -> distance, per seed) of a walk
    from ``seeds``."""
    seen = {s: {s: 0} for s in {int(s) for s in seeds}}
    return seen, {s: {s: 0} for s in seen}


def _pairs(seen: dict[int, dict[int, int]]) -> list[tuple[int, int, int]]:
    return [(s, v, d) for s, dist in seen.items() for v, d in dist.items() if v != s]


def _closure_frame(spark, rows: list[tuple[int, int, int]]) -> DataFrame:
    """Driver-side closure rows as a DataFrame.  Built from Arrow, a
    metadata-sized result becomes a local relation, so reading it back
    runs no Spark job (a Python list would be parallelized)."""
    import pyarrow as pa

    cols = list(zip(*rows)) or [(), (), ()]
    return spark.createDataFrame(
        pa.table(
            {
                "ancestor_id": pa.array(cols[0], pa.int64()),
                "descendant_id": pa.array(cols[1], pa.int64()),
                "distance": pa.array(cols[2], pa.int32()),
            }
        ),
        _CLOSURE_SCHEMA,
    )


def _closure_bfs_local(
    spark, rows: list[tuple[int, int]], max_hops: int, seeds=None
) -> DataFrame:
    """Driver BFS over a collected edge list, from ``seeds`` (default:
    every edge source, i.e. the full closure)."""
    adj: dict[int, list[int]] = {}
    for a, b in rows:
        adj.setdefault(a, []).append(b)
    seen, frontier = _start(adj if seeds is None else seeds)
    for hop in range(1, max_hops + 1):
        frontier = _bfs_hop(seen, frontier, adj, hop, float("inf"))
        if not frontier:
            break
    return _closure_frame(spark, _pairs(seen))


def _collect_small(pairs: DataFrame) -> list | None:
    """The rows of ``pairs`` if there are at most SMALL_GRAPH_EDGES of
    them (one bounded collect), else None."""
    sample = pairs.limit(SMALL_GRAPH_EDGES + 1).collect()
    return sample if len(sample) <= SMALL_GRAPH_EDGES else None


def _edge_pairs(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    return (
        edges.select(
            F.col(src_col).alias("ancestor_id"),
            F.col(dst_col).alias("descendant_id"),
        )
        .where(F.col("ancestor_id") != F.col("descendant_id"))
        .distinct()
    )


def _semi_naive(
    base: DataFrame,
    closure: DataFrame,
    frontier: DataFrame,
    first_hop: int,
    max_hops: int,
) -> DataFrame:
    """Grow ``closure`` one hop per round from ``frontier`` (the pairs
    first reached at ``first_hop - 1``) over the edge pairs ``base``,
    keeping each pair at its minimum distance."""
    # every round re-shuffles this on _src (and re-runs base's distinct):
    # each round is its own action over a fresh plan, so no exchange is
    # reused across rounds
    step_edges = base.select(
        F.col("ancestor_id").alias("_src"), F.col("descendant_id").alias("_dst")
    ).repartition("_src")

    for hop in range(first_hop, max_hops + 1):
        grown = (
            frontier.join(
                step_edges, frontier["descendant_id"] == step_edges["_src"]
            )
            .select(
                frontier["ancestor_id"],
                step_edges["_dst"].alias("descendant_id"),
                (frontier["distance"] + 1).alias("distance"),
            )
            .where(F.col("ancestor_id") != F.col("descendant_id"))
        )
        # keep only pairs not already reached at a shorter distance
        new_pairs = grown.join(
            closure.select("ancestor_id", "descendant_id"),
            on=["ancestor_id", "descendant_id"],
            how="left_anti",
        ).dropDuplicates(["ancestor_id", "descendant_id"])
        new_pairs = new_pairs.localCheckpoint(eager=True)  # truncate plan
        if new_pairs.isEmpty():
            break
        closure = closure.unionByName(new_pairs).localCheckpoint(eager=True)
        frontier = new_pairs
    return closure


def transitive_closure(
    edges: DataFrame,
    src_col: str = "parent_select_item_id",
    dst_col: str = "child_select_item_id",
    max_hops: int = 20,
) -> DataFrame:
    """All (ancestor, descendant, distance) pairs reachable in the edge DAG.

    Returns columns ``(ancestor_id, descendant_id, distance)`` with the
    minimum hop count per pair (column_lineage.distance,
    db_setup_ddl.sql:187).

    Hybrid execution: metadata-sized graphs (≤ SMALL_GRAPH_EDGES) run a
    driver BFS — per-iteration Spark job overhead would dominate;
    enterprise-scale edge sets run the distributed iterative self-join.
    """
    base = _edge_pairs(edges, src_col, dst_col)
    sample = _collect_small(base)
    if sample is not None:
        return _closure_bfs_local(edges.sparkSession, sample, max_hops)
    closure = base.withColumn("distance", F.lit(1))
    return _semi_naive(base, closure, closure, 2, max_hops)


def _seeded_closure(
    edges: DataFrame, src_col: str, dst_col: str, seeds: list[int], max_hops: int
) -> DataFrame:
    """The rows of ``transitive_closure(edges, src_col, dst_col, max_hops)``
    whose ancestor is a seed, found by walking from the seeds only.

    A metadata-sized edge frame is collected once and walked on the
    driver.  A larger one is scanned once per hop for the edges leaving
    the not-yet-expanded frontier columns; the driver then holds at most
    SMALL_GRAPH_EDGES edges and pairs, and the first scan or hop that
    would hold more hands over to the distributed loop instead.
    """
    spark = edges.sparkSession
    if not seeds:
        return _closure_frame(spark, [])
    sample = _collect_small(edges.select(src_col, dst_col))
    if sample is not None:
        return _closure_bfs_local(spark, sample, max_hops, seeds)
    seen, frontier = _start(seeds)
    out_edges: dict[int, list[int]] = {}
    held = 0  # edges and pairs on the driver
    for hop in range(1, max_hops + 1):
        todo = {u for f in frontier.values() for u in f} - out_edges.keys()
        if todo:
            out_edges.update((u, []) for u in todo)
            # one SQL IN-list: Column.isin costs one py4j call per id
            in_frontier = F.expr(
                f"`{src_col}` IN ({','.join(map(str, sorted(todo)))})"
            )
            rows = (
                edges.where(in_frontier)
                .select(src_col, dst_col)
                .limit(SMALL_GRAPH_EDGES - held + 1)
                .collect()
            )
            held += len(rows)
            for a, b in rows:
                out_edges[a].append(b)
        grown = None
        if held <= SMALL_GRAPH_EDGES:
            grown = _bfs_hop(seen, frontier, out_edges, hop, SMALL_GRAPH_EDGES - held)
        if grown is None:
            # no longer metadata-sized: go on from this hop in the
            # distributed loop, from the pairs found before it
            return _semi_naive(
                _edge_pairs(edges, src_col, dst_col),
                _closure_frame(spark, _pairs(seen)),
                _closure_frame(
                    spark, [(s, v, hop - 1) for s, f in frontier.items() for v in f]
                ),
                hop,
                max_hops,
            )
        frontier = grown
        if not frontier:
            break
        held += sum(map(len, frontier.values()))
    return _closure_frame(spark, _pairs(seen))


def column_lineage(select_item_rel: DataFrame, max_hops: int = 20) -> DataFrame:
    """column_lineage(ancestor, descendant, distance)
    (db_setup_ddl.sql:178-190)."""
    return transitive_closure(
        select_item_rel, "parent_select_item_id", "child_select_item_id", max_hops
    ).select(
        F.col("ancestor_id").alias("parent_select_item_id"),
        F.col("descendant_id").alias("child_select_item_id"),
        "distance",
    )


def table_lineage(dataset_rel: DataFrame, max_hops: int = 20) -> DataFrame:
    """table_lineage closure over dataset edges (db_setup_ddl.sql:164-176)."""
    return transitive_closure(
        dataset_rel, "parent_dataset_id", "child_dataset_id", max_hops
    ).select(
        F.col("ancestor_id").alias("parent_dataset_id"),
        F.col("descendant_id").alias("child_dataset_id"),
        "distance",
    )


def impacted_by(
    select_item_rel: DataFrame, item_ids: list[int], max_hops: int = 20
) -> DataFrame:
    """Downstream impact set of the given columns (validate_0010's
    "user/team discovery" pattern as a library call): one row per
    (seed, reached column), walked from the seeds only."""
    return _seeded_closure(
        select_item_rel,
        "parent_select_item_id",
        "child_select_item_id",
        item_ids,
        max_hops,
    ).select(F.col("descendant_id").alias("impacted_item_id"), "distance")


def feeds_into(
    select_item_rel: DataFrame, item_ids: list[int], max_hops: int = 20
) -> DataFrame:
    """Upstream provenance set of the given columns: ``impacted_by``'s
    walk with the edges reversed."""
    return _seeded_closure(
        select_item_rel,
        "child_select_item_id",
        "parent_select_item_id",
        item_ids,
        max_hops,
    ).select(F.col("descendant_id").alias("source_item_id"), "distance")
