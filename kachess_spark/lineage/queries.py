"""Lineage-layer entries for the driver contract (``queries()`` /
``oracle_sql()``).

The closure operators are oracle-checked: both engines consume the SAME
deterministic edge list (frozen below from extracting ``_CORPUS`` with seed
1000 — ``tests/test_lineage_queries.py`` pins the extractor to it), Spark
runs closure.py's closure (the driver BFS at this size) and DuckDB runs
the equivalent ``WITH RECURSIVE``.  Live extraction itself is a
driver-side parse (no SQL equivalent) → rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kachess_spark.catalog import local_frame
from kachess_spark.registry import query

# The multi-scope golden query (reference test case 0002's shape:
# 3-way join + nested subqueries + star expansion + WHERE/JOIN contexts).
_CORPUS = """
SELECT col101s, max(col103i, col303i) as max_int, col102b as yn_flag, tab40_str
FROM dw.tab10 a
JOIN stage.tab30 b ON a.col100l = b.col300l
LEFT JOIN (
    SELECT c.*, d.* FROM dw.tab20 c
    JOIN (
        SELECT col400l, col403i, col401s as tab40_str FROM adhoc.tab40
    ) d ON c.col200l = d.col400l
    WHERE col202b AND col403i = 100
) k ON a.col100l = k.col200l
WHERE a.col101s IS NOT NULL
;
"""

# select_item_rel of _CORPUS at seed 1000 (68 edges over 5 datasets).
ITEM_EDGES: list[tuple[int, int, str]] = [
    (1001, 1035, "JOIN"), (1001, 1036, "JOIN"), (1001, 1037, "JOIN"),
    (1001, 1038, "JOIN"), (1001, 1040, "JOIN"), (1001, 1041, "JOIN"),
    (1002, 1035, "SELECT"), (1002, 1035, "WHERE"), (1002, 1036, "WHERE"),
    (1002, 1037, "WHERE"), (1002, 1038, "WHERE"), (1002, 1039, "WHERE"),
    (1003, 1037, "SELECT"), (1004, 1036, "SELECT"), (1006, 1035, "JOIN"),
    (1006, 1036, "JOIN"), (1006, 1037, "JOIN"), (1006, 1038, "JOIN"),
    (1006, 1040, "JOIN"), (1009, 1036, "SELECT"), (1011, 1025, "JOIN"),
    (1011, 1025, "SELECT"), (1011, 1026, "JOIN"), (1011, 1027, "JOIN"),
    (1011, 1028, "JOIN"), (1011, 1029, "JOIN"), (1011, 1030, "JOIN"),
    (1011, 1031, "JOIN"), (1011, 1033, "JOIN"), (1012, 1026, "SELECT"),
    (1013, 1025, "WHERE"), (1013, 1026, "WHERE"), (1013, 1027, "SELECT"),
    (1013, 1027, "WHERE"), (1013, 1028, "WHERE"), (1013, 1029, "WHERE"),
    (1013, 1030, "WHERE"), (1013, 1031, "WHERE"), (1013, 1032, "WHERE"),
    (1014, 1028, "SELECT"), (1016, 1021, "SELECT"), (1017, 1023, "SELECT"),
    (1019, 1022, "SELECT"), (1021, 1025, "JOIN"), (1021, 1026, "JOIN"),
    (1021, 1027, "JOIN"), (1021, 1028, "JOIN"), (1021, 1029, "JOIN"),
    (1021, 1029, "SELECT"), (1021, 1030, "JOIN"), (1021, 1031, "JOIN"),
    (1021, 1033, "JOIN"), (1022, 1025, "WHERE"), (1022, 1026, "WHERE"),
    (1022, 1027, "WHERE"), (1022, 1028, "WHERE"), (1022, 1029, "WHERE"),
    (1022, 1030, "SELECT"), (1022, 1030, "WHERE"), (1022, 1031, "WHERE"),
    (1022, 1032, "WHERE"), (1023, 1031, "SELECT"), (1025, 1035, "JOIN"),
    (1025, 1036, "JOIN"), (1025, 1037, "JOIN"), (1025, 1038, "JOIN"),
    (1025, 1041, "JOIN"), (1031, 1038, "SELECT"),
]

# dataset_rel of _CORPUS at seed 1000.
DS_EDGES: list[tuple[int, int]] = [
    (1000, 1034), (1005, 1034), (1010, 1024),
    (1015, 1020), (1020, 1024), (1024, 1034),
]
_DS_EDGES_DDL = "parent_dataset_id BIGINT, child_dataset_id BIGINT"


def _edges_values_sql(edges: list[tuple[int, int]]) -> str:
    rows = ", ".join(f"({a}, {b})" for a, b in edges)
    return f"(VALUES {rows}) AS e(src, dst)"


def _recursive_walk_sql(edges: list[tuple[int, int]]) -> str:
    """The WITH RECURSIVE ``walk(src, dst, distance)`` over ``edges``
    (cycles cut at the start node, 20 hops), for a SELECT to follow."""
    return f"""
WITH RECURSIVE edges(src, dst) AS (
  SELECT DISTINCT src, dst FROM {_edges_values_sql(edges)}
),
walk(src, dst, distance) AS (
  SELECT src, dst, 1 FROM edges
  UNION
  SELECT w.src, e.dst, w.distance + 1
  FROM walk w JOIN edges e ON w.dst = e.src
  WHERE w.distance < 20 AND w.src <> e.dst
)
"""


def _recursive_closure_sql(edges: list[tuple[int, int]], pcol: str, ccol: str) -> str:
    return _recursive_walk_sql(edges) + f"""\
SELECT src AS {pcol}, dst AS {ccol}, MIN(distance) AS distance
FROM walk GROUP BY 1, 2 ORDER BY 1, 2
"""


_ITEM_PAIRS = sorted({(a, b) for a, b, _ in ITEM_EDGES})
_ITEM_PAIRS_DDL = "parent_select_item_id BIGINT, child_select_item_id BIGINT"


@query(
    "lineage_column_closure",
    _recursive_closure_sql(
        _ITEM_PAIRS, "parent_select_item_id", "child_select_item_id"
    ),
)
def lineage_column_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the column-lineage DAG
    (column_lineage.distance, db_setup_ddl.sql:178-190).  The 68 frozen
    edges are metadata-sized, so closure.py walks them with its driver
    BFS; the distributed self-join runs above SMALL_GRAPH_EDGES."""
    from kachess_spark.lineage.closure import column_lineage

    edges = local_frame(spark, _ITEM_PAIRS, _ITEM_PAIRS_DDL)
    return column_lineage(edges).select(
        F.col("parent_select_item_id"),
        F.col("child_select_item_id"),
        F.col("distance").cast("long").alias("distance"),
    )


@query(
    "lineage_table_closure",
    _recursive_closure_sql(DS_EDGES, "parent_dataset_id", "child_dataset_id"),
)
def lineage_table_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """table_lineage closure over dataset edges (db_setup_ddl.sql:164-176)."""
    from kachess_spark.lineage.closure import table_lineage

    edges = local_frame(spark, DS_EDGES, _DS_EDGES_DDL)
    return table_lineage(edges).select(
        F.col("parent_dataset_id"),
        F.col("child_dataset_id"),
        F.col("distance").cast("long").alias("distance"),
    )


# Round-9 (r8 verdict #5): the driver-side parse reports are
# DETERMINISTIC DataFrames (frozen corpus, frozen seed), so their exact
# content is registered as literal VALUES oracles — DuckDB cannot parse
# the scripts, but it can hold the expected edge set.  ITEM_EDGES is
# already pinned to live extraction by
# tests/test_lineage_queries.py::test_frozen_edges_match_live_extraction,
# so the oracle below is the same fixture the goldens trust.

_EXTRACT_EDGES_ORACLE = (
    "SELECT CAST(p AS BIGINT) AS parent_select_item_id,"
    " CAST(c AS BIGINT) AS child_select_item_id, ctx AS usage_context"
    " FROM (VALUES "
    + ", ".join(f"({a}, {b}, '{x}')" for a, b, x in ITEM_EDGES)
    + ") AS t(p, c, ctx) ORDER BY 1, 2, 3"
)


@query("lineage_extract_edges", _EXTRACT_EDGES_ORACLE)
def lineage_extract_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live end-to-end extraction: Catalyst-parse the corpus and emit its
    select_item_rel edges (SqlMetaDataExtractor semantics, SURVEY.md §4).
    Oracle: the frozen ITEM_EDGES fixture as literal VALUES — content
    hash-certified, not just row counts."""
    from kachess_spark.lineage.extractor import LineageSession
    from kachess_spark.lineage.metastore import fixture_metastore

    s = LineageSession(spark, fixture_metastore(), seed=1000)
    s.extract_script(_CORPUS)
    return (
        s.frames()["select_item_rel"]
        .orderBy("parent_select_item_id", "child_select_item_id", "usage_context")
    )


# Frozen provenance edges of _CORPUS at seed 1000 (44 rows):
# (src_schema, src_table, src_column, dst_dataset_type, dst_dataset,
#  dst_column, usage_context).
PROVENANCE_ROWS: list[tuple[str, ...]] = [
    ("adhoc", "tab40", "col400l", "SUBQUERY", "1020", "col400l", "SELECT"),
    ("adhoc", "tab40", "col401s", "SUBQUERY", "1020", "tab40_str", "SELECT"),
    ("adhoc", "tab40", "col403i", "SUBQUERY", "1020", "col403i", "SELECT"),
    ("dw", "tab10", "col100l", "SUBQUERY", "1034",
     "a.col100l = b.col300l", "JOIN"),
    ("dw", "tab10", "col100l", "SUBQUERY", "1034",
     "a.col100l = k.col200l", "JOIN"),
    ("dw", "tab10", "col100l", "SUBQUERY", "1034", "col101s", "JOIN"),
    ("dw", "tab10", "col100l", "SUBQUERY", "1034", "max_int", "JOIN"),
    ("dw", "tab10", "col100l", "SUBQUERY", "1034", "tab40_str", "JOIN"),
    ("dw", "tab10", "col100l", "SUBQUERY", "1034", "yn_flag", "JOIN"),
    ("dw", "tab10", "col101s", "SUBQUERY", "1034",
     "a.col101s IS NOT NULL", "WHERE"),
    ("dw", "tab10", "col101s", "SUBQUERY", "1034", "col101s", "WHERE"),
    ("dw", "tab10", "col101s", "SUBQUERY", "1034", "col101s", "SELECT"),
    ("dw", "tab10", "col101s", "SUBQUERY", "1034", "max_int", "WHERE"),
    ("dw", "tab10", "col101s", "SUBQUERY", "1034", "tab40_str", "WHERE"),
    ("dw", "tab10", "col101s", "SUBQUERY", "1034", "yn_flag", "WHERE"),
    ("dw", "tab10", "col102b", "SUBQUERY", "1034", "yn_flag", "SELECT"),
    ("dw", "tab10", "col103i", "SUBQUERY", "1034", "max_int", "SELECT"),
    ("dw", "tab20", "col200l", "SUBQUERY", "1024",
     "c.col200l = d.col400l", "JOIN"),
    ("dw", "tab20", "col200l", "SUBQUERY", "1024", "col200l", "SELECT"),
    ("dw", "tab20", "col200l", "SUBQUERY", "1024", "col200l", "JOIN"),
    ("dw", "tab20", "col200l", "SUBQUERY", "1024", "col201s", "JOIN"),
    ("dw", "tab20", "col200l", "SUBQUERY", "1024", "col202b", "JOIN"),
    ("dw", "tab20", "col200l", "SUBQUERY", "1024", "col203i", "JOIN"),
    ("dw", "tab20", "col200l", "SUBQUERY", "1024", "col400l", "JOIN"),
    ("dw", "tab20", "col200l", "SUBQUERY", "1024", "col403i", "JOIN"),
    ("dw", "tab20", "col200l", "SUBQUERY", "1024", "tab40_str", "JOIN"),
    ("dw", "tab20", "col201s", "SUBQUERY", "1024", "col201s", "SELECT"),
    ("dw", "tab20", "col202b", "SUBQUERY", "1024", "col200l", "WHERE"),
    ("dw", "tab20", "col202b", "SUBQUERY", "1024", "col201s", "WHERE"),
    ("dw", "tab20", "col202b", "SUBQUERY", "1024", "col202b", "WHERE"),
    ("dw", "tab20", "col202b", "SUBQUERY", "1024", "col202b", "SELECT"),
    ("dw", "tab20", "col202b", "SUBQUERY", "1024",
     "col202b AND col403i = 100", "WHERE"),
    ("dw", "tab20", "col202b", "SUBQUERY", "1024", "col203i", "WHERE"),
    ("dw", "tab20", "col202b", "SUBQUERY", "1024", "col400l", "WHERE"),
    ("dw", "tab20", "col202b", "SUBQUERY", "1024", "col403i", "WHERE"),
    ("dw", "tab20", "col202b", "SUBQUERY", "1024", "tab40_str", "WHERE"),
    ("dw", "tab20", "col203i", "SUBQUERY", "1024", "col203i", "SELECT"),
    ("stage", "tab30", "col300l", "SUBQUERY", "1034",
     "a.col100l = b.col300l", "JOIN"),
    ("stage", "tab30", "col300l", "SUBQUERY", "1034", "col101s", "JOIN"),
    ("stage", "tab30", "col300l", "SUBQUERY", "1034", "max_int", "JOIN"),
    ("stage", "tab30", "col300l", "SUBQUERY", "1034", "tab40_str", "JOIN"),
    ("stage", "tab30", "col300l", "SUBQUERY", "1034", "yn_flag", "JOIN"),
    ("stage", "tab30", "col303i", "SUBQUERY", "1034", "max_int", "SELECT"),
]

_PROVENANCE_ORACLE = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        "(" + ", ".join(f"'{v}'" for v in r) + ")" for r in PROVENANCE_ROWS
    )
    + ") AS t(src_schema, src_table, src_column, dst_dataset_type,"
    " dst_dataset, dst_column, usage_context) ORDER BY 1, 2, 3, 5, 6, 7"
)


@query("lineage_provenance_report", _PROVENANCE_ORACLE)
def lineage_provenance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat (physical source column → derived column) report over the
    corpus — the consumption query analysts run against the lineage
    store (validate_0010's discovery pattern as a library call).
    Oracle: the frozen PROVENANCE_ROWS golden as literal VALUES (the
    extraction is deterministic at seed 1000)."""
    from kachess_spark.lineage.export import provenance_report
    from kachess_spark.lineage.extractor import LineageSession
    from kachess_spark.lineage.metastore import fixture_metastore

    s = LineageSession(spark, fixture_metastore(), seed=1000)
    s.extract_script(_CORPUS)
    return provenance_report(s.frames())


# ---------------------------------------------------------------------------
# Side tables fed from OUTSIDE parsing (db_setup_ddl.sql: table_symlinked
# :148-162, table_add_partition :134-146, sqoop_table :192-200).  Frozen
# fixtures model a mini warehouse DAG; both engines consume the same rows.

TBL_NAME_EDGES: list[tuple[str, str, str, str]] = [
    ("raw", "orders_ingest", "stage", "orders_clean"),
    ("raw", "customer_ingest", "stage", "customer_clean"),
    ("stage", "orders_clean", "dw", "fct_orders"),
    ("stage", "customer_clean", "dw", "dim_customer"),
    ("dw", "fct_orders", "mart", "daily_sales"),
    ("dw", "dim_customer", "mart", "daily_sales"),
    ("ext", "fx_rates", "mart", "daily_sales"),
]

SYMLINKS: list[tuple[str, str, str, str, str, str]] = [
    ("dw", "fct_orders", "dw", "fct_orders_latest",
     "LatestOperator", "resolved latest partition view"),
    ("mart", "daily_sales", "mart_ro", "daily_sales",
     "storage_linked", "s3://wh/mart/daily_sales"),
]

ADD_PARTITIONS: list[tuple[str, str, str]] = [
    ("mart", "daily_sales", "s3://wh/mart/daily_sales"),
    ("mart_ro", "daily_sales", "s3://wh/mart/daily_sales"),
    ("dw", "fct_orders", "s3://wh/dw/fct_orders"),
    ("dw", "fct_orders_latest", "s3://wh/dw/fct_orders"),
    ("ext", "fx_rates", "s3://vendor/fx"),
]

SQOOP: list[tuple[str, str, str]] = [
    ("raw", "orders_ingest", "sqoop_orders_daily"),
    ("raw", "customer_ingest", "sqoop_customer_daily"),
]


def _values(rows, cols: str) -> str:
    body = ", ".join(
        "(" + ", ".join(f"'{v}'" for v in r) + ")" for r in rows
    )
    return f"(VALUES {body}) AS t({cols})"


_EDGE_COLS = "parent_schema, parent_table, child_schema, child_table"
_EDGE_DDL = (
    "parent_schema string, parent_table string, child_schema string,"
    " child_table string"
)

_SYMLINK_EXPAND_ORACLE = f"""
WITH e AS (SELECT * FROM {_values(TBL_NAME_EDGES, _EDGE_COLS)}),
sl AS (SELECT src_schema, src_table, dst_schema, dst_table
       FROM {_values([s[:4] for s in SYMLINKS],
                     'src_schema, src_table, dst_schema, dst_table')}),
p AS (
  SELECT * FROM e
  UNION
  SELECT sl.dst_schema, sl.dst_table, e.child_schema, e.child_table
  FROM e JOIN sl ON e.parent_schema = sl.src_schema
                AND e.parent_table = sl.src_table
)
SELECT DISTINCT * FROM (
  SELECT * FROM p
  UNION
  SELECT p.parent_schema, p.parent_table, sl.dst_schema, sl.dst_table
  FROM p JOIN sl ON p.child_schema = sl.src_schema
                AND p.child_table = sl.src_table
)
ORDER BY parent_schema, parent_table, child_schema, child_table
"""


@query("lineage_symlink_expand", _SYMLINK_EXPAND_ORACLE)
def lineage_symlink_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """table_symlinked alias expansion: lineage edges re-emitted under
    external alias names (db_setup_ddl.sql:148-162 — "the dst tables are
    found outside parsing such as by LatestOperator or Storage-Linked")."""
    from kachess_spark.lineage.sidetables import expand_symlinks

    edges = local_frame(spark, TBL_NAME_EDGES, _EDGE_DDL)
    sl = local_frame(
        spark,
        SYMLINKS,
        "src_schema string, src_table string, dst_schema string,"
        " dst_table string, linkage_src_key string, linkage_src_value string",
    )
    return expand_symlinks(edges, sl).orderBy(
        "parent_schema", "parent_table", "child_schema", "child_table"
    )


_STORAGE_LINKS_ORACLE = f"""
WITH p AS (SELECT * FROM {_values(ADD_PARTITIONS,
                                  'db_schema, db_table, location')})
SELECT DISTINCT
  a.db_schema AS src_schema, a.db_table AS src_table,
  b.db_schema AS dst_schema, b.db_table AS dst_table,
  'storage_linked' AS linkage_src_key,
  a.location AS linkage_src_value
FROM p a JOIN p b ON a.location = b.location
WHERE a.db_schema <> b.db_schema OR a.db_table <> b.db_table
ORDER BY src_schema, src_table, dst_schema, dst_table
"""


@query("lineage_storage_links", _STORAGE_LINKS_ORACLE)
def lineage_storage_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symlink rows derived from shared ADD PARTITION locations
    (table_add_partition.location "may tie tables together",
    db_setup_ddl.sql:139)."""
    from kachess_spark.lineage.sidetables import storage_links

    parts = local_frame(
        spark, ADD_PARTITIONS, "db_schema string, db_table string, location string"
    )
    return storage_links(parts).orderBy(
        "src_schema", "src_table", "dst_schema", "dst_table"
    )


_SQOOP_ROOTS_ORACLE = f"""
WITH e AS (SELECT * FROM {_values(TBL_NAME_EDGES, _EDGE_COLS)}),
sq AS (SELECT * FROM {_values(SQOOP,
                              'db_schema, db_table, etl_task_name')}),
roots AS (
  SELECT DISTINCT parent_schema AS db_schema, parent_table AS db_table
  FROM e
  WHERE NOT EXISTS (
    SELECT 1 FROM e c
    WHERE c.child_schema = e.parent_schema
      AND c.child_table = e.parent_table
  )
)
SELECT r.db_schema, r.db_table, sq.etl_task_name
FROM roots r LEFT JOIN sq
  ON r.db_schema = sq.db_schema AND r.db_table = sq.db_table
ORDER BY r.db_schema, r.db_table
"""


@query("lineage_sqoop_roots", _SQOOP_ROOTS_ORACLE)
def lineage_sqoop_roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage roots annotated with their sqoop ingest task
    (sqoop_table, db_setup_ddl.sql:192-200); NULL task = unmanaged
    external source."""
    from kachess_spark.lineage.sidetables import sqoop_root_provenance

    edges = local_frame(spark, TBL_NAME_EDGES, _EDGE_DDL)
    sq = local_frame(
        spark, SQOOP, "db_schema string, db_table string, etl_task_name string"
    )
    return sqoop_root_provenance(edges, sq).orderBy("db_schema", "db_table")


_DASHBOARD_COLUMNS_ORACLE = (
    "SELECT CAST(i AS BIGINT) AS dboard_id, s AS src_db_schema,"
    " t AS src_db_table, c AS src_db_column FROM (VALUES "
    + ", ".join(
        f"(1, '{s}', '{t}', '{c}')"
        for s, t, c in [
            ("adhoc", "tab40", "col400l"), ("adhoc", "tab40", "col401s"),
            ("adhoc", "tab40", "col403i"), ("dw", "tab10", "col100l"),
            ("dw", "tab10", "col101s"), ("dw", "tab10", "col102b"),
            ("dw", "tab10", "col103i"), ("dw", "tab20", "col200l"),
            ("dw", "tab20", "col202b"), ("stage", "tab30", "col300l"),
            ("stage", "tab30", "col303i"),
        ]
    )
    + ") AS t(i, s, t, c) ORDER BY 1, 2, 3, 4"
)


@query("lineage_dashboard_columns", _DASHBOARD_COLUMNS_ORACLE)
def lineage_dashboard_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_dboard_lineage summary: physical columns the dashboard's
    top-level SELECT transitively uses (db_setup_ddl.sql:126-135).
    Oracle: the same golden edge set test_dashboard_columns_golden pins,
    as literal VALUES."""
    from kachess_spark.lineage.export import dashboard_column_lineage
    from kachess_spark.lineage.extractor import LineageSession
    from kachess_spark.lineage.metastore import fixture_metastore

    s = LineageSession(
        spark, fixture_metastore(), seed=1000, system_source="DASHBOARD"
    )
    s.extract_script(_CORPUS)
    return dashboard_column_lineage(s.frames())


_DF_CAPTURE_ORACLE = """
    SELECT * FROM (VALUES
      ('o_key',     'lineitem', 'l_orderkey'),
      ('orderdate', 'orders',   'o_orderdate'),
      ('priority',  'orders',   'o_orderpriority'),
      ('revenue',   'lineitem', 'l_discount'),
      ('revenue',   'lineitem', 'l_extendedprice')
    ) AS t(out_column, src_table, src_column)
    ORDER BY out_column, src_table, src_column
"""


@query("lineage_dataframe_capture", _DF_CAPTURE_ORACLE)
def lineage_dataframe_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column lineage of a DataFrame-API pipeline (no SQL text to
    parse): the flagship Q3 DataFrame's analyzed plan, walked into
    (out_column → src_table, src_column) edges by lineage/dfcapture.py.
    The oracle pins the exact expected edge set — e.g. `revenue` must
    trace to BOTH l_extendedprice and l_discount through the alias and
    aggregate, and the group keys to their base columns through joins.
    """
    from kachess_spark.lineage.dfcapture import lineage_frame
    from kachess_spark.operators.joins import join_inner_q3

    return lineage_frame(join_inner_q3(spark, sf_dir)).orderBy(
        "out_column", "src_table", "src_column"
    )


_IMPACT_ROOT = min(p for p, _ in _ITEM_PAIRS)

_IMPACT_ORACLE = _recursive_walk_sql(_ITEM_PAIRS) + f"""\
SELECT dst AS impacted_item_id, CAST(MIN(distance) AS BIGINT) AS distance
FROM walk WHERE src = {_IMPACT_ROOT}
GROUP BY dst ORDER BY impacted_item_id
"""


@query("lineage_impact_analysis", _IMPACT_ORACLE)
def lineage_impact_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impact analysis — the lineage tool's actual end-use: every
    select-item transitively downstream of one changed column (with hop
    distance), i.e. "what breaks if this column changes".  The
    reference computes this consumption-side via SQL over its MySQL
    closure tables (validate_0010's user/team discovery); here it is
    closure.impacted_by over the same frozen edge fixture, and the
    oracle recomputes it with an independent WITH RECURSIVE walk.
    """
    from kachess_spark.lineage.closure import impacted_by

    edges = local_frame(spark, _ITEM_PAIRS, _ITEM_PAIRS_DDL)
    return (
        impacted_by(edges, [_IMPACT_ROOT])
        .select("impacted_item_id", F.col("distance").cast("long").alias("distance"))
        .orderBy("impacted_item_id")
    )


# DS_EDGES (acyclic, the honest extraction) plus deliberate back edges:
# the 2-cycle a warehouse gets when two jobs each "refresh" the other's
# table, and a 3-cycle of staging bounces — the misconfiguration a
# lineage tool must ALARM on, since every closure/impact walk over a
# cyclic graph silently truncates at max_hops.
CYCLE_EDGES: list[tuple[int, int]] = sorted(
    set(DS_EDGES) | {(1034, 1000), (1040, 1041), (1041, 1042), (1042, 1040)}
)

_CYCLE_ORACLE = f"""
WITH RECURSIVE edges(src, dst) AS (
  SELECT DISTINCT src, dst FROM {_edges_values_sql(CYCLE_EDGES)}
),
walk(start, node, distance) AS (
  SELECT src, dst, 1 FROM edges
  UNION
  SELECT w.start, e.dst, w.distance + 1
  FROM walk w JOIN edges e ON w.node = e.src
  WHERE w.distance < 20 AND w.node <> w.start
)
SELECT start AS dataset_id, CAST(MIN(distance) AS BIGINT) AS cycle_len
FROM walk WHERE node = start GROUP BY 1 ORDER BY 1
"""


@query("lineage_cycle_detect", _CYCLE_ORACLE)
def lineage_cycle_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cycle detection over the dataset graph: every dataset on a
    dependency cycle, with the length of the shortest cycle through it
    — the refresh-loop misconfiguration alarm a lineage deployment runs
    before any closure/impact query (which would silently truncate at
    max_hops on a cyclic graph).

    Mechanism: a node v lies on a cycle iff some edge u→v closes a
    path v⇝u, and the shortest such closure is min-distance(v⇝u)+1 —
    so cycle membership is ONE equi-join between the edge table and
    the transitive closure (closure.transitive_closure, the same
    iterative-BFS artifact table_lineage persists), no new walk.  The
    oracle re-derives it with an independent WITH RECURSIVE walk that
    tracks walk starts instead.
    """
    from kachess_spark.lineage.closure import transitive_closure

    edges = local_frame(spark, CYCLE_EDGES, _DS_EDGES_DDL)
    closure = transitive_closure(
        edges, "parent_dataset_id", "child_dataset_id"
    )
    e = edges.select(
        F.col("parent_dataset_id").alias("e_src"),
        F.col("child_dataset_id").alias("e_dst"),
    )
    return (
        closure.join(
            e,
            (F.col("ancestor_id") == F.col("e_dst"))
            & (F.col("descendant_id") == F.col("e_src")),
        )
        .groupBy(F.col("ancestor_id").alias("dataset_id"))
        .agg((F.min("distance") + 1).cast("long").alias("cycle_len"))
        .orderBy("dataset_id")
    )


_CORPUS_V2 = """
SELECT col101s, max(col103i, col303i) as max_int, tab40_str,
       col300l as shipment_key
FROM dw.tab10 a
JOIN stage.tab30 b ON a.col100l = b.col300l
LEFT JOIN (
    SELECT c.*, d.* FROM dw.tab20 c
    JOIN (
        SELECT col400l, col403i, col401s as tab40_str FROM adhoc.tab40
    ) d ON c.col200l = d.col400l
    WHERE col403i = 100
) k ON a.col100l = k.col200l
WHERE a.col101s IS NOT NULL
;
"""


_SCRIPT_DIFF_ORACLE = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{s}', '{o}', '{ch}')"
        for s, o, ch in [
            ("stage.tab30.col300l", "shipment_key", "added"),
            ("adhoc.tab40.col401s", "tab40_str", "kept"),
            ("dw.tab10.col101s", "col101s", "kept"),
            ("dw.tab10.col103i", "max_int", "kept"),
            ("stage.tab30.col303i", "max_int", "kept"),
            ("dw.tab10.col102b", "yn_flag", "removed"),
        ]
    )
    + ") AS t(source_column, output_column, change) ORDER BY 3, 1, 2"
)


@query("lineage_script_diff", _SCRIPT_DIFF_ORACLE)
def lineage_script_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impact diff between two versions of a script: extract both,
    compare the (source physical column → output column name) edge sets,
    and report each edge as added / removed / kept — the change-review
    question lineage systems exist to answer ("what does this edit to
    the ETL break downstream?").

    v2 drops the yn_flag output and the col202b filter dependency and
    adds a shipment_key output — the diff must surface exactly those.
    Oracle: the frozen diff as literal VALUES (deterministic at seed
    1000); edge-shape assertions also in tests/test_lineage_queries.py.
    """
    from kachess_spark.lineage.extractor import LineageSession
    from kachess_spark.lineage.metastore import fixture_metastore

    def out_edges(script: str) -> set[tuple[str, str, str]]:
        sess = LineageSession(spark, fixture_metastore(), seed=1000)
        sess.extract_script(script)
        store = sess.store
        items = {}
        owner_type = {}
        for ds in store.datasets:
            for it in ds.items + ds.filter_items + ds.join_items:
                items[it.id] = (it, ds)
        # physical roots = items owned by TABLE datasets
        edges = set()

        def roots(iid, seen):
            if iid in seen:
                return set()
            seen.add(iid)
            it, ds = items.get(iid, (None, None))
            if it is None:
                return set()
            if ds.type == "TABLE":
                return {f"{ds.schema_name}.{ds.table_name}.{it.name}"}
            out = set()
            for pid in it.parents:
                out |= roots(pid, seen)
            return out

        # top-level outputs: the outermost SELECT is the SUBQUERY dataset
        # created last (children extract before parents), i.e. max id
        subs = [d for d in store.datasets if d.type == "SUBQUERY"]
        top = max(subs, key=lambda d: d.id) if subs else None
        if top is None:
            return set()
        for it in top.items:
            for r in roots(it.id, set()):
                edges.add((r, it.name or it.definition, it.usage_context))
        return edges

    v1 = out_edges(_CORPUS)
    v2 = out_edges(_CORPUS_V2)
    rows = (
        [(s, o, "removed") for (s, o, _) in sorted(v1 - v2)]
        + [(s, o, "added") for (s, o, _) in sorted(v2 - v1)]
        + [(s, o, "kept") for (s, o, _) in sorted(v1 & v2)]
    )
    return local_frame(
        spark, rows, "source_column string, output_column string, change string"
    ).orderBy("change", "source_column", "output_column")
