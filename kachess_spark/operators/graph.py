"""Connected components over an undirected edge set — distributed.

The missing last step of a near-dup pipeline: LSH/banding emits candidate
PAIRS, but a duplicate *cluster* of k documents appears as up to k·(k-1)/2
pairs across many buckets.  Grouping requires the transitive closure of
"is-near-dup-of" — connected components — after which one canonical doc
per component is kept.

Scale design mirrors lineage/closure.py's hybrid:

* metadata-sized graphs (≤ SMALL_GRAPH_EDGES) run a driver union-find —
  per-iteration Spark job overhead would dominate;
* larger graphs run iterative min-label propagation: each round is ONE
  shuffle (neighbor-min aggregation) on a partitioning reused across
  rounds, a ``catalog.barrier`` truncates the growing plan, and convergence is
  an AQE-sized count.  Rounds needed = graph diameter (near-dup clusters
  are shallow — a handful of rounds in practice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kachess_spark.catalog import barrier

SMALL_GRAPH_EDGES = 50_000


def _cc_union_find_local(spark, rows: list[tuple[int, int]]) -> DataFrame:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # smaller id wins the root: canonical = min id in component
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(n, find(n)) for n in parent]
    return spark.createDataFrame(out, "node BIGINT, component_id BIGINT")


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """(node, component_id) for every node in the edge set; component_id
    is the minimum node id in the component (deterministic canonical)."""
    base = (
        edges.select(
            F.col(src_col).cast("long").alias("u"),
            F.col(dst_col).cast("long").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    sample = base.limit(SMALL_GRAPH_EDGES + 1).collect()
    if len(sample) <= SMALL_GRAPH_EDGES:
        return _cc_union_find_local(
            edges.sparkSession, [(r[0], r[1]) for r in sample]
        )

    # barrier: reuse — every round joins the symmetric edges
    sym = barrier(
        base.unionByName(base.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition("u"),
        eager=True,
    )
    # barrier: loop — the labels are the round state
    labels = barrier(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component_id", F.col("node"))
        .repartition("node"),
        eager=True,
    )
    for _ in range(max_rounds):
        nbr_min = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy(sym["u"].alias("node"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        # barrier: loop — truncates the plan each round
        new_labels = barrier(
            labels.join(nbr_min, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("component_id"), F.coalesce("nbr_min", "component_id")
                ).alias("component_id"),
            )
            .repartition("node"),
            eager=True,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="node")
            .where(F.col("n.component_id") != F.col("o.component_id"))
        )
        labels = new_labels
        if changed.isEmpty():
            break
    return labels


def dedup_groups(pair_df: DataFrame, all_ids: DataFrame) -> DataFrame:
    """Fold candidate pairs into dedup groups over the full id universe.

    ``pair_df``: (doc_a, doc_b) near-dup pairs.  ``all_ids``: one
    ``doc_id`` column — ids with no pair become singleton components.
    Returns (doc_id, component_id, component_size, keep) where keep=1
    marks the canonical (minimum-id) member.
    """
    cc = connected_components(pair_df, "doc_a", "doc_b")
    labeled = all_ids.join(
        cc, all_ids["doc_id"] == cc["node"], how="left"
    ).select(
        "doc_id",
        F.coalesce("component_id", "doc_id").alias("component_id"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("component_id")
    return labeled.select(
        "doc_id",
        "component_id",
        F.count("*").over(w).alias("component_size"),
        F.when(F.col("doc_id") == F.col("component_id"), 1)
        .otherwise(0)
        .alias("keep"),
    )
