"""Lineage consumption helpers: render the graph for humans/tools.

The reference's consumers query MySQL directly (validate_0010.sql builds
scratch impact tables).  Library equivalents: DOT text for visualization
and a column-level provenance report.  Both collect ONLY metadata-sized
frames (the lineage graph), never user data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def to_dot(frames: dict[str, DataFrame], max_items: int = 500) -> str:
    """Graphviz DOT of the dataset graph with column edges.

    ``max_items`` caps the render (lineage frames are metadata-sized, but
    a whole enterprise graph still shouldn't go through one driver
    string — render per-subgraph at that scale)."""
    datasets = frames["datasets"].limit(max_items).collect()
    items = frames["select_items"].limit(max_items * 4).collect()
    rels = frames["select_item_rel"].limit(max_items * 8).collect()

    owner = {r["id"]: r["dataset_id"] for r in items}
    label = {
        r["id"]: (r["name"] or r["alias"] or r["definition"] or "?")
        for r in items
    }
    lines = ["digraph lineage {", "  rankdir=LR;", "  node [shape=record];"]
    for d in datasets:
        cols = [
            f"<i{r['id']}> {label[r['id']]}"
            for r in items
            if r["dataset_id"] == d["id"] and r["usage_context"] == "SELECT"
        ]
        name = d["name"] or f"{d['type'].lower()}_{d['id']}"
        shape = "|".join([name] + cols)
        lines.append(f'  d{d["id"]} [label="{shape}"];')
    seen = set()
    for r in rels:
        p, c = r["parent_select_item_id"], r["child_select_item_id"]
        if p in owner and c in owner:
            edge = (owner[p], p, owner[c], c)
            if edge not in seen:
                seen.add(edge)
                style = "" if r["usage_context"] == "SELECT" else " [style=dashed]"
                lines.append(f"  d{owner[p]}:i{p} -> d{owner[c]}:i{c}{style};")
    lines.append("}")
    return "\n".join(lines)


def provenance_report(frames: dict[str, DataFrame]) -> DataFrame:
    """One row per (physical source column → derived column) pair with
    the columns' datasets — the flat report analysts join against
    (column_lineage's direct-edge slice, db_setup_ddl.sql:178-190)."""
    si = frames["select_items"].alias("si")
    parent = frames["select_items"].alias("p")
    ds = frames["datasets"].alias("ds")
    pds = frames["datasets"].alias("pds")
    rel = frames["select_item_rel"].alias("rel")
    return (
        rel.join(parent, F.col("rel.parent_select_item_id") == F.col("p.id"))
        .join(si, F.col("rel.child_select_item_id") == F.col("si.id"))
        .join(pds, F.col("p.dataset_id") == F.col("pds.id"))
        .join(ds, F.col("si.dataset_id") == F.col("ds.id"))
        .where(F.col("pds.type") == "TABLE")
        .select(
            F.col("pds.schema_name").alias("src_schema"),
            F.col("pds.table_name").alias("src_table"),
            F.col("p.name").alias("src_column"),
            F.col("ds.type").alias("dst_dataset_type"),
            F.coalesce(F.col("ds.name"), F.col("ds.id").cast("string")).alias(
                "dst_dataset"
            ),
            F.coalesce(F.col("si.name"), F.col("si.definition")).alias(
                "dst_column"
            ),
            F.col("rel.usage_context"),
        )
        .orderBy("src_schema", "src_table", "src_column", "dst_column")
    )


def dashboard_column_lineage(frames: dict[str, DataFrame]) -> DataFrame:
    """ts_dboard_lineage: every physical (schema, table, column) a
    dashboard's datasets transitively read (db_setup_ddl.sql:126-135 —
    "all physical table columns a ... dashboard ever used").

    Walks the select_item DAG upstream from the dashboard's datasets
    (dashboard_dataset, :118-125) to TABLE-typed sources.  The dashboard
    items are metadata-sized, so they seed feeds_into's upstream walk
    (closure.py) over the data-sized edge frame; everything else is
    metadata-sized joins.
    """
    from kachess_spark.lineage.closure import _seeded_closure

    dd = frames["dashboard_dataset"].alias("dd")
    si = frames["select_items"].alias("si")
    rel = frames["select_item_rel"]
    ds = frames["datasets"].alias("ds")

    start = dd.join(si, F.col("dd.dataset_id") == F.col("si.dataset_id")).select(
        F.col("dd.source_id").alias("dboard_id"),
        F.col("si.id").alias("item_id"),
    )
    # metadata-sized: collected once, it seeds the walk and is read back
    # as a local relation instead of re-running the join
    start_tbl = start.toArrow()
    up = _seeded_closure(
        rel,
        "child_select_item_id",
        "parent_select_item_id",
        start_tbl.column("item_id").to_pylist(),
        max_hops=20,
    )
    start = rel.sparkSession.createDataFrame(start_tbl)
    upstream = start.join(
        up, start["item_id"] == up["ancestor_id"]
    ).select("dboard_id", F.col("descendant_id").alias("item_id"))
    reachable = start.unionByName(upstream).distinct()

    phys = si.join(
        ds.where(F.col("ds.type") == "TABLE"),
        F.col("si.dataset_id") == F.col("ds.id"),
    ).select(
        F.col("si.id").alias("item_id"),
        F.col("ds.schema_name").alias("src_db_schema"),
        F.col("ds.table_name").alias("src_db_table"),
        F.coalesce(F.col("si.name"), F.col("si.definition")).alias(
            "src_db_column"
        ),
    )
    return (
        reachable.join(phys, on="item_id")
        .select("dboard_id", "src_db_schema", "src_db_table", "src_db_column")
        .distinct()
        .orderBy("dboard_id", "src_db_schema", "src_db_table", "src_db_column")
    )
