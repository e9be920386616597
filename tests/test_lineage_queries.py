"""Pin the frozen edge lists in lineage/queries.py to live extraction,
check the closure against DuckDB's WITH RECURSIVE — the same comparison
the driver runs — and check that the lineage frames and queries read
local relations."""

from __future__ import annotations

import duckdb

from kachess_spark.lineage import LineageSession, fixture_metastore
from kachess_spark.lineage.queries import (
    _CORPUS,
    DS_EDGES,
    ITEM_EDGES,
    lineage_column_closure,
    lineage_table_closure,
)
from kachess_spark.registry import ORACLES


def test_frozen_edges_match_live_extraction(spark):
    s = LineageSession(spark, fixture_metastore(), seed=1000)
    s.extract_script(_CORPUS)
    f = s.frames()
    rel = sorted(tuple(r) for r in f["select_item_rel"].collect())
    assert rel == sorted(ITEM_EDGES)
    dsr = sorted(tuple(r) for r in f["dataset_rel"].collect())
    assert dsr == sorted(DS_EDGES)


def _check(spark, fn, oracle_key):
    got = sorted(tuple(r) for r in fn(spark, "").collect())
    want = sorted(tuple(r) for r in duckdb.sql(ORACLES[oracle_key]).fetchall())
    assert got == want


def test_column_closure_vs_duckdb(spark):
    _check(spark, lineage_column_closure, "lineage_column_closure")


def test_table_closure_vs_duckdb(spark):
    _check(spark, lineage_table_closure, "lineage_table_closure")


def test_dashboard_columns_golden(spark):
    """ts_dboard_lineage over _CORPUS as a DASHBOARD source: the full
    physical column set the top-level SELECT transitively reads."""
    from kachess_spark.lineage.queries import lineage_dashboard_columns

    got = sorted(tuple(r) for r in lineage_dashboard_columns(spark, "").collect())
    assert got == [
        (1, "adhoc", "tab40", "col400l"),
        (1, "adhoc", "tab40", "col401s"),
        (1, "adhoc", "tab40", "col403i"),
        (1, "dw", "tab10", "col100l"),
        (1, "dw", "tab10", "col101s"),
        (1, "dw", "tab10", "col102b"),
        (1, "dw", "tab10", "col103i"),
        (1, "dw", "tab20", "col200l"),
        (1, "dw", "tab20", "col202b"),
        (1, "stage", "tab30", "col300l"),
        (1, "stage", "tab30", "col303i"),
    ]


def test_lineage_script_diff_shape(spark, sf_dir):
    """v1→v2 edit drops yn_flag (and its col102b source), adds
    shipment_key from tab30.col300l, keeps the rest."""
    from kachess_spark.lineage.queries import lineage_script_diff

    rows = {
        (r["source_column"], r["output_column"]): r["change"]
        for r in lineage_script_diff(spark, sf_dir).collect()
    }
    assert rows[("dw.tab10.col102b", "yn_flag")] == "removed"
    assert rows[("stage.tab30.col300l", "shipment_key")] == "added"
    assert rows[("adhoc.tab40.col401s", "tab40_str")] == "kept"
    assert rows[("dw.tab10.col103i", "max_int")] == "kept"


# --------------------------------------------------------------------
# Round-8 golden pins (r7 verdict #8): the three driver-side parse
# reports are rows-only in the driver gate, so their CONTENT is locked
# here on a dedicated one-statement fixture script each — exact edge
# sets, not just row counts.

_CTAS_SCRIPT = """
USE dw;
CREATE TABLE mart.flag_stats AS
SELECT t.col101s AS label, count(*) AS n_rows, max(s.col303i) AS max_i
FROM dw.tab10 t
JOIN stage.tab30 s ON t.col100l = s.col300l
WHERE t.col102b
GROUP BY t.col101s
;
"""

_DASH_SCRIPT = """
USE dw;
SELECT a.col201s, b.col403i
FROM dw.tab20 a JOIN adhoc.tab40 b ON a.col200l = b.col400l
WHERE b.col403i > 5
;
"""


def test_extract_edges_golden_ctas_script(spark):
    """select_item_rel of the CTAS fixture at seed 2000 — the exact
    edge set (SELECT lineage for each output, WHERE fan-out to every
    output + the predicate item, JOIN fan-out from both key columns,
    and the CTAS column bindings 2011->2019 etc)."""
    s = LineageSession(spark, fixture_metastore(), seed=2000)
    s.extract_script(_CTAS_SCRIPT)
    got = sorted(tuple(r) for r in s.frames()["select_item_rel"].collect())
    assert got == [
        (2001, 2011, "JOIN"), (2001, 2012, "JOIN"), (2001, 2015, "JOIN"),
        (2001, 2017, "JOIN"), (2002, 2011, "SELECT"), (2003, 2011, "WHERE"),
        (2003, 2012, "WHERE"), (2003, 2015, "WHERE"), (2003, 2016, "WHERE"),
        (2006, 2011, "JOIN"), (2006, 2012, "JOIN"), (2006, 2015, "JOIN"),
        (2006, 2017, "JOIN"), (2009, 2015, "SELECT"), (2011, 2019, "SELECT"),
        (2012, 2020, "SELECT"), (2013, 2012, "SELECT"), (2014, 2012, "SELECT"),
        (2015, 2021, "SELECT"),
    ]


# provenance_report of _CTAS_SCRIPT at seed 2000: the exact flat
# (physical source column -> derived column) set, including the count(*)
# S_COL_ASTERISK convention and the JOIN-key fan-out to every derived
# output.
_CTAS_PROVENANCE = [
    ("dw", "tab10", "S_COL_ASTERISK", "SUBQUERY", "2010", "n_rows", "SELECT"),
    ("dw", "tab10", "col100l", "SUBQUERY", "2010", "label", "JOIN"),
    ("dw", "tab10", "col100l", "SUBQUERY", "2010", "max_i", "JOIN"),
    ("dw", "tab10", "col100l", "SUBQUERY", "2010", "n_rows", "JOIN"),
    ("dw", "tab10", "col100l", "SUBQUERY", "2010", "t.col100l = s.col300l", "JOIN"),
    ("dw", "tab10", "col101s", "SUBQUERY", "2010", "label", "SELECT"),
    ("dw", "tab10", "col102b", "SUBQUERY", "2010", "label", "WHERE"),
    ("dw", "tab10", "col102b", "SUBQUERY", "2010", "max_i", "WHERE"),
    ("dw", "tab10", "col102b", "SUBQUERY", "2010", "n_rows", "WHERE"),
    ("dw", "tab10", "col102b", "SUBQUERY", "2010", "t.col102b", "WHERE"),
    ("stage", "tab30", "S_COL_ASTERISK", "SUBQUERY", "2010", "n_rows", "SELECT"),
    ("stage", "tab30", "col300l", "SUBQUERY", "2010", "label", "JOIN"),
    ("stage", "tab30", "col300l", "SUBQUERY", "2010", "max_i", "JOIN"),
    ("stage", "tab30", "col300l", "SUBQUERY", "2010", "n_rows", "JOIN"),
    ("stage", "tab30", "col300l", "SUBQUERY", "2010", "t.col100l = s.col300l", "JOIN"),
    ("stage", "tab30", "col303i", "SUBQUERY", "2010", "max_i", "SELECT"),
]


def _ctas_report(spark):
    from kachess_spark.lineage.export import provenance_report

    s = LineageSession(spark, fixture_metastore(), seed=2000)
    s.extract_script(_CTAS_SCRIPT)
    return provenance_report(s.frames())


def _report_order(row):
    """provenance_report's sort keys, in order: the source column, then
    dst_column, dst_dataset, dst_dataset_type and usage_context."""
    return row[0], row[1], row[2], row[5], row[4], row[3], row[6]


def test_provenance_report_golden_ctas_script(spark):
    got = sorted(tuple(r) for r in _ctas_report(spark).collect())
    assert got == sorted(_CTAS_PROVENANCE)


# two CTEs read the same columns under the same names: their report rows
# tie on the source column and dst_column, and the edges of "zz" come
# first in select_item_rel although "aa" sorts first
_TIE_SCRIPT = """
WITH aa AS (SELECT col101s, col100l FROM dw.tab10),
     zz AS (SELECT col101s, col100l FROM dw.tab10)
SELECT aa.col101s FROM aa JOIN zz ON aa.col100l = zz.col100l;
"""


def test_provenance_report_order_is_total(spark):
    """The rows come back in the seven-key order as collected, unsorted:
    rows that tie on the source column and dst_column (the same derived
    column in two datasets or two contexts) must not come back in
    whatever order the join plan left them."""
    from kachess_spark.lineage.export import provenance_report
    from kachess_spark.lineage.queries import PROVENANCE_ROWS, lineage_provenance_report

    got = [tuple(r) for r in _ctas_report(spark).collect()]
    assert got == sorted(_CTAS_PROVENANCE, key=_report_order)
    got = [tuple(r) for r in lineage_provenance_report(spark, "").collect()]
    assert got == sorted(PROVENANCE_ROWS, key=_report_order)
    s = LineageSession(spark, fixture_metastore(), seed=2000)
    s.extract_script(_TIE_SCRIPT)
    got = [tuple(r) for r in provenance_report(s.frames()).collect()]
    assert got == [
        ("dw", "tab10", c, "CTE", d, c, "SELECT")
        for c in ("col100l", "col101s")
        for d in ("aa", "zz")
    ]


def _leaf_classes(df) -> set[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}


def test_lineage_frames_are_local_relations(spark, sf_dir):
    """Every lineage frame and every registered lineage_* query reads
    driver-built rows as local relations, never as a parallelized Python
    RDD (a LogicalRDD leaf: no size statistics, Python workers per scan).
    The leaf class is tested, not the string "Scan ExistingRDD", which
    checkpoint output shares."""
    from kachess_spark import registry

    s = LineageSession(spark, fixture_metastore(), seed=1000)
    s.extract_script(_CORPUS)
    for name, df in s.frames().items():
        assert "LogicalRDD" not in _leaf_classes(df), name
    registry.load_all()
    names = sorted(n for n in registry.QUERIES if n.startswith("lineage_"))
    assert len(names) >= 12
    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        assert "LogicalRDD" not in _leaf_classes(df), name


def test_provenance_report_joins_broadcast(spark):
    """The report's four joins read local relations with size statistics,
    so they plan as broadcast hash joins, never sort-merge joins."""
    from kachess_spark.lineage.queries import lineage_provenance_report

    df = lineage_provenance_report(spark, "")
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 4
    # the only shuffle is the global sort's own range partitioning
    assert final.count("Exchange ") - final.count("BroadcastExchange") == 1


def test_dashboard_columns_golden_select_script(spark):
    """dashboard_column_lineage over a bare-SELECT fixture registered
    as a DASHBOARD source: exactly the four physical columns the
    top-level SELECT transitively reads (both join keys + the two
    projected columns; the WHERE column col403i is projected too)."""
    from kachess_spark.lineage.export import dashboard_column_lineage

    s = LineageSession(
        spark, fixture_metastore(), seed=2000, system_source="DASHBOARD"
    )
    s.extract_script(_DASH_SCRIPT)
    got = sorted(
        tuple(r) for r in dashboard_column_lineage(s.frames()).collect()
    )
    assert got == [
        (1, "adhoc", "tab40", "col400l"),
        (1, "adhoc", "tab40", "col403i"),
        (1, "dw", "tab20", "col200l"),
        (1, "dw", "tab20", "col201s"),
    ]
