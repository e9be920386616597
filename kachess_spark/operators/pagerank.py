"""Iterative PageRank over a DataFrame edge list.

The reference computes transitive closures downstream of its lineage
graph (`table_lineage`/`column_lineage`, db_setup_ddl.sql:164-190); this
module adds the other classic iterative graph computation a data-platform
needs (e.g. ranking datasets by lineage centrality, or domains by link
authority in a crawl-curation pipeline).

Determinism contract: ranks are **scaled integers** and every step uses
integer division, so iteration k's state is bit-identical regardless of
execution order or engine — float PageRank cannot hash-match across
engines (per-group sum order varies), integer PageRank can.  The DuckDB
oracle unrolls the same 10 iterations as chained CTEs.

Scale design: each iteration is ONE shuffle (contribution sum keyed on
dst) plus a broadcast of the rank vector when #nodes is dim-sized; the
rank state is barrier-truncated per round so the plan does not
grow with iteration count (the lineage/closure.py lesson).  For
web-scale graphs the same loop holds with the rank vector hash-joined
instead of broadcast — the code path is identical, only Catalyst's
join strategy changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from kachess_spark.catalog import Tables, barrier
from kachess_spark.registry import query

SCALE = 10**12
N_NATIONS = 25  # nation is a fixed-size dim at every scale factor
INIT = SCALE // N_NATIONS
BASE = (15 * INIT) // 100  # (1 - d) mass, d = 0.85
ITERATIONS = 10


def pagerank_integer(
    nodes: DataFrame, edges: DataFrame, iterations: int = ITERATIONS, init: int = INIT
) -> DataFrame:
    """(node) × (src, dst) → (node, rank) after ``iterations`` rounds of
    damped integer PageRank.  Dangling mass is dropped (documented
    behavior, identical in the oracle)."""
    # barrier: reuse — materialize the (possibly expensive) edge
    # derivation ONCE: the loop references `edges` every iteration and
    # would otherwise re-execute its upstream joins 10× (measured 8.8s →
    # 3.7s at sf0.1); the out-degrees are read every iteration too
    edges = barrier(edges, eager=True)
    outdeg = barrier(
        edges.groupBy("src").agg(F.count("*").alias("od")), eager=True
    )
    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = (
            edges.join(broadcast(ranks), edges.src == ranks.node)
            .join(broadcast(outdeg), "src")
            .select("dst", F.expr("rank div od").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        # barrier: loop — the rank state is truncated each round
        ranks = barrier(
            nodes.join(broadcast(contrib), nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(BASE)
                    + F.expr("85 * coalesce(contrib, 0L) div 100")
                ).alias("rank"),
            ),
            eager=True,
        )
    return ranks


def _oracle_sql() -> str:
    head = f"""
    WITH edges AS (
      SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    r0 AS (SELECT node, CAST({INIT} AS BIGINT) AS rank FROM nodes)"""
    steps = []
    for i in range(1, ITERATIONS + 1):
        steps.append(f""",
    r{i} AS (
      SELECT n.node,
             CAST({BASE} + 85 * COALESCE(c.contrib, 0) // 100 AS BIGINT)
               AS rank
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst, CAST(SUM(r.rank // o.od) AS BIGINT) AS contrib
        FROM edges e
        JOIN r{i - 1} r ON r.node = e.src
        JOIN outdeg o  ON o.src = e.src
        GROUP BY e.dst
      ) c ON c.dst = n.node
    )"""
        )
    return (
        head
        + "".join(steps)
        + f"""
    SELECT node, rank FROM r{ITERATIONS}
    ORDER BY rank DESC, node"""
    )


@query("graph_pagerank_trade", _oracle_sql())
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation-level trade graph (supplier nation →
    customer nation edges from actual trades): which nations are the
    most central demand sinks.

    The edge-building joins do the heavy lifting at scale (lineitem ⋈
    orders shuffle, dims broadcast, DISTINCT collapses to #nations²
    rows); the 10 integer-exact iterations then run on dim-sized state.
    """
    t = Tables(spark, sf_dir)
    edges = (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(t.orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(t.customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("s_nationkey").cast("long").alias("src"),
            F.col("c_nationkey").cast("long").alias("dst"),
        )
        .distinct()
    )
    nodes = t.nation.select(F.col("n_nationkey").cast("long").alias("node"))
    return pagerank_integer(nodes, edges).orderBy(F.col("rank").desc(), F.col("node"))


# ---------------------------------------------------- triangle counting

_TRIANGLE_ORACLE = """
    WITH trade AS (
      SELECT DISTINCT s.s_nationkey AS a, c.c_nationkey AS b
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE s.s_nationkey <> c.c_nationkey
    ),
    und AS (  -- undirected: keep each edge once, low id first
      SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM trade
    ),
    tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM und e1
      JOIN und e2 ON e2.u = e1.v
      JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    per_node AS (
      SELECT node, COUNT(*) AS n_triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    )
    SELECT n.n_nationkey AS node, n.n_name AS nation,
           COALESCE(p.n_triangles, 0) AS n_triangles
    FROM nation n LEFT JOIN per_node p ON n.n_nationkey = p.node
    ORDER BY node
"""


@query("graph_triangle_count", _TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the undirected nation trade graph —
    the clustering-structure primitive (community density, spam-graph
    detection) next to PageRank's centrality.

    Scale: the classic orientation trick — every undirected edge is
    stored once as (low, high), and triangles enumerate as wedge join
    (e1.v = e2.u) + closing-edge check (e3 = (e1.u, e2.v)), so each
    triangle is found exactly once and the join fans out by the
    ORIENTED degree (bounded by √|E| on skewed graphs, vs the raw
    degree of the naive 3-way self-join).  Both joins key on node ids —
    shuffle-hashable, AQE-splittable; the trade-edge derivation reuses
    the pagerank build (fact shuffle + broadcast dims, DISTINCT down to
    ≤ nations² rows).
    """
    t = Tables(spark, sf_dir)
    # barrier: reuse — the triangle join reads the trade edges three times
    trade = barrier(
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(t.orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(t.customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").cast("long").alias("u"),
            F.greatest("s_nationkey", "c_nationkey").cast("long").alias("v"),
        )
        .distinct()
    )
    e1, e2, e3 = trade.alias("e1"), trade.alias("e2"), trade.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("x"),
            F.col("e1.v").alias("y"),
            F.col("e2.v").alias("z"),
        )
    )
    per_node = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        t.nation.select(
            F.col("n_nationkey").cast("long").alias("node"),
            F.col("n_name").alias("nation"),
        )
        .join(per_node, "node", "left")
        .select(
            "node",
            "nation",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
        .orderBy("node")
    )


# ------------------------------------------- common-neighbor link prediction

LINKPRED_MAX_CUST = 200  # bound the demo pair space (custkey < this)
LINKPRED_MIN_COMMON = 2
LINKPRED_TOPK = 5

_LINKPRED_ORACLE = f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_custkey < {LINKPRED_MAX_CUST}
    ),
    deg AS (SELECT cust, COUNT(*) AS d FROM edges GROUP BY cust),
    common AS (
      SELECT a.cust AS cust_a, b.cust AS cust_b, COUNT(*) AS cn
      FROM edges a JOIN edges b
        ON a.supp = b.supp AND a.cust < b.cust
      GROUP BY a.cust, b.cust
    ),
    scored AS (
      SELECT c.cust_a, c.cust_b, c.cn,
             ROUND(CAST(c.cn AS DOUBLE) / (da.d + db.d - c.cn), 6)
               AS jaccard
      FROM common c
      JOIN deg da ON c.cust_a = da.cust
      JOIN deg db ON c.cust_b = db.cust
      WHERE c.cn >= {LINKPRED_MIN_COMMON}
    )
    SELECT cust_a, cust_b, cn, jaccard, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cust_a
                                   ORDER BY jaccard DESC, cn DESC, cust_b)
                  AS rk
      FROM scored
    ) WHERE rk <= {LINKPRED_TOPK}
    ORDER BY cust_a, rk
"""


@query("graph_link_prediction", _LINKPRED_ORACLE)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the customer–supplier
    bipartite graph: customers sharing ≥{LINKPRED_MIN_COMMON} suppliers
    score by neighbor-set Jaccard cn/(dₐ+d_b−cn); top-{LINKPRED_TOPK}
    predicted peers per customer — the people-also-buy-from /
    entity-resolution candidate generator.

    Scale: the wedge join blocks on the shared supplier (the same
    oriented-wedge shape as graph_triangle_count), so pairs only
    materialize through actual co-purchases; degrees broadcast back.
    Hot hubs (a supplier serving everyone) quadratically inflate the
    wedge — production caps hub fan-out (drop suppliers above a degree
    ceiling, the standard hub-cut) which bounds per-key work; the demo
    bounds the customer universe instead so the oracle stays cheap.
    """
    t = Tables(spark, sf_dir)
    # barrier: reuse — the degrees and both wedge sides read the edges
    edges = barrier(
        t.orders.where(F.col("o_custkey") < LINKPRED_MAX_CUST)
        .join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    deg = edges.groupBy("cust").agg(F.count("*").alias("d"))
    a, b = edges.alias("a"), edges.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.supp") == F.col("b.supp"))
            & (F.col("a.cust") < F.col("b.cust")),
        )
        .groupBy(
            F.col("a.cust").alias("cust_a"), F.col("b.cust").alias("cust_b")
        )
        .agg(F.count("*").alias("cn"))
        .where(F.col("cn") >= LINKPRED_MIN_COMMON)
    )
    da = deg.select(F.col("cust").alias("cust_a"), F.col("d").alias("da"))
    db = deg.select(F.col("cust").alias("cust_b"), F.col("d").alias("db"))
    scored = (
        common.join(F.broadcast(da), "cust_a")
        .join(F.broadcast(db), "cust_b")
        .select(
            "cust_a",
            "cust_b",
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy("cust_a").orderBy(
        F.desc("jaccard"), F.desc("cn"), F.col("cust_b")
    )
    return (
        scored.select(
            "cust_a", "cust_b", "cn", "jaccard",
            F.row_number().over(w).alias("rk"),
        )
        .where(F.col("rk") <= LINKPRED_TOPK)
        .orderBy("cust_a", "rk")
    )
