"""Set operations + CTEs (SURVEY.md §2.7).

Reference constructs: UNION [ALL|DISTINCT], EXCEPT [ALL],
INTERSECT [ALL], WITH ... AS (...) (Bingql.g4:916-941; visitor
positional UNION merge MiscChores.union:66-81).

Spark set-ops are positional (like the reference's merge); all queries
project identical column lists on both branches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kachess_spark.catalog import Tables, register_views
from kachess_spark.registry import query


def _parties(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """customer and supplier projected to a common (key,name,nationkey,acctbal) shape."""
    t = Tables(spark, sf_dir)
    cust = t.customer.select(
        F.col("c_custkey").alias("party_key"),
        F.col("c_name").alias("party_name"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("CUSTOMER").alias("party_type"),
    )
    supp = t.supplier.select(
        F.col("s_suppkey").alias("party_key"),
        F.col("s_name").alias("party_name"),
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("SUPPLIER").alias("party_type"),
    )
    return cust, supp


@query(
    "setop_union_all",
    oracle="""
    SELECT c_custkey AS party_key, c_name AS party_name,
           c_nationkey AS nationkey, c_acctbal AS acctbal,
           'CUSTOMER' AS party_type
    FROM customer WHERE c_acctbal > 9500
    UNION ALL
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal, 'SUPPLIER'
    FROM supplier
    """,
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL — positional merge (reference test case 0005's shape)."""
    cust, supp = _parties(spark, sf_dir)
    return cust.where(F.col("acctbal") > 9500).union(supp)


@query(
    "setop_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT = union + distinct."""
    t = Tables(spark, sf_dir)
    return (
        t.customer.select(F.col("c_nationkey").alias("nationkey"))
        .union(t.supplier.select("s_nationkey"))
        .distinct()
    )


@query(
    "setop_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (DISTINCT) — set difference (df.subtract)."""
    t = Tables(spark, sf_dir)
    f = t.orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    big = t.orders.where(F.col("o_totalprice") > 300000).select("o_custkey")
    return f.subtract(big)


@query(
    "setop_except_all",
    oracle="""
    SELECT l_partkey FROM lineitem WHERE l_quantity >= 49
    EXCEPT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A' AND l_quantity >= 49
    """,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag difference (multiplicity-aware)."""
    t = Tables(spark, sf_dir)
    hi = t.lineitem.where(F.col("l_quantity") >= 49).select("l_partkey")
    a = t.lineitem.where(
        (F.col("l_returnflag") == "A") & (F.col("l_quantity") >= 49)
    ).select("l_partkey")
    return hi.exceptAll(a)


@query(
    "setop_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.customer.where(F.col("c_acctbal") > 9000).select(
        F.col("c_nationkey").alias("nationkey")
    ).intersect(t.supplier.select("s_nationkey"))


@query(
    "setop_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_totalprice > 150000
    """,
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag intersection."""
    t = Tables(spark, sf_dir)
    f = t.orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    big = t.orders.where(F.col("o_totalprice") > 150000).select("o_custkey")
    return f.intersectAll(big)


_CTE_REUSED_SQL = """
    WITH nat AS (
      SELECT n_nationkey, n_name, r_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
    ),
    cust_per_nat AS (
      SELECT c_nationkey, COUNT(*) AS n_cust
      FROM customer GROUP BY c_nationkey
    )
    SELECT a.r_name, a.n_name, COALESCE(b.n_cust, 0) AS n_cust
    FROM nat a LEFT JOIN cust_per_nat b ON a.n_nationkey = b.c_nationkey
    """


@query("cte_reused", oracle=_CTE_REUSED_SQL)
def cte_reused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE WITH-clause (Bingql.g4:916-926; visitor :543-557), two CTEs,
    one referenced downstream — run through Spark SQL so Catalyst's CTE
    resolution is exercised."""
    register_views(spark, sf_dir, ("nation", "region", "customer"))
    return spark.sql(_CTE_REUSED_SQL)


@query(
    "select_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def select_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT (select_list_set, Bingql.g4:962-965)."""
    t = Tables(spark, sf_dir)
    return t.lineitem.select("l_returnflag", "l_linestatus").distinct()


# same ANSI text runs on BOTH engines (Spark 4 native recursion)
_RECURSIVE_CTE_SQL = """
    WITH RECURSIVE walk(src, dst, distance) AS (
      SELECT src, dst, 1 FROM (
        VALUES (1000, 1034), (1005, 1034), (1010, 1024),
               (1015, 1020), (1020, 1024), (1024, 1034)
      ) AS e(src, dst)
      UNION ALL
      SELECT w.src, e.dst, w.distance + 1
      FROM walk w
      JOIN (
        VALUES (1000, 1034), (1005, 1034), (1010, 1024),
               (1015, 1020), (1020, 1024), (1024, 1034)
      ) AS e(src, dst) ON w.dst = e.src
      WHERE w.distance < 10
    )
    SELECT src, dst, MIN(distance) AS distance
    FROM walk
    GROUP BY src, dst
    ORDER BY src, dst
"""


@query("cte_recursive", _RECURSIVE_CTE_SQL)
def cte_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native `WITH RECURSIVE` (Spark 4): the transitive-closure walk as
    ONE SQL statement — the exact text DuckDB runs as the oracle.

    Complements the DataFrame-loop closure (lineage/closure.py): the
    declarative form hands iteration control to the engine (each
    recursive step is a planned join, unioned to a fixpoint/depth
    bound); the loop form keeps control for checkpoint/convergence
    tuning.  Same edges as lineage_table_closure, so the two paths
    cross-check each other."""
    return spark.sql(_RECURSIVE_CTE_SQL)


_UNPIVOT_ORACLE = """
    SELECT n_name, metric, val
    FROM (
      SELECT n.n_name,
             count(DISTINCT c.c_custkey) AS n_customers,
             count(DISTINCT s.s_suppkey) AS n_suppliers
      FROM nation n
      LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
      LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ) wide
    UNPIVOT (val FOR metric IN (n_customers, n_suppliers))
    ORDER BY n_name, metric
"""


@query("setop_unpivot_stack", _UNPIVOT_ORACLE)
def setop_unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long): per-nation entity counts melted into
    (metric, val) rows — the inverse of agg_pivot, via DataFrame
    ``unpivot`` (SQL ``stack``/UNPIVOT).  Long form feeds generic
    per-metric pipelines without per-column code.

    Scale plan: unpivot is a zero-shuffle projection (each input row
    emits k rows map-side); do it AFTER aggregation — melting raw
    facts first would k-plicate the shuffle.
    """
    t = Tables(spark, sf_dir)
    wide = (
        t.nation.join(
            t.customer, t.customer.c_nationkey == t.nation.n_nationkey, "left"
        )
        .join(t.supplier, t.supplier.s_nationkey == t.nation.n_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
        )
    )
    return wide.unpivot(
        "n_name", ["n_customers", "n_suppliers"], "metric", "val"
    ).orderBy("n_name", "metric")


_UNION_BY_NAME_ORACLE = """
    SELECT * FROM (
      SELECT n_name AS name, n_nationkey AS k, NULL AS region
      FROM nation WHERE n_nationkey < 5
      UNION ALL BY NAME
      SELECT r_name AS name, r_regionkey AS k, r_name AS region
      FROM region
    )
    ORDER BY k, name
"""


@query("setop_union_by_name", _UNION_BY_NAME_ORACLE)
def setop_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unionByName(allowMissingColumns=True)`` — name-aligned union
    across drifted schemas (one branch lacks a column → NULL-filled),
    vs the reference's strictly positional union merge
    (MiscChores.union, util/MiscChores.java:66-81).  The evolution-safe
    way to stack heterogeneous batches.
    """
    t = Tables(spark, sf_dir)
    a = t.nation.where(F.col("n_nationkey") < 5).select(
        F.col("n_name").alias("name"), F.col("n_nationkey").alias("k")
    )
    b = t.region.select(
        F.col("r_name").alias("name"),
        F.col("r_regionkey").alias("k"),
        F.col("r_name").alias("region"),
    )
    return (
        a.unionByName(b, allowMissingColumns=True)
        .select("name", "k", "region")
        .orderBy("k", "name")
    )
