"""Joins (SURVEY.md §2.3).

Reference constructs: [INNER] JOIN ON, LEFT/RIGHT/FULL [OUTER], LEFT
SEMI, CROSS, comma-join, theta/non-equi ON (Bingql.g4:1041-1054; visitor
visitFrom_join_clause SqlMetaDataExtractor.java:329-360).  The reference
never executes; here each join is planned by Catalyst with explicit
broadcast() hints on dimension tables so the 100 TB plan avoids
shuffling the fact side against small dims.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from kachess_spark.catalog import Tables, barrier
from kachess_spark.operators._util import oracle_dsum, dsum
from kachess_spark.registry import query


@query(
    "join_inner_q3",
    oracle="""
    SELECT l.l_orderkey AS o_key,
           CAST(SUM(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 10000 AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    ORDER BY revenue DESC, o_key
    LIMIT 20
    """,
)
def join_inner_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way inner join + filter + agg + top-k.

    Scale plan: customer is the small side → broadcast; orders⋈lineitem
    shuffles on the shared orderkey only after both sides are filtered.
    """
    t = Tables(spark, sf_dir)
    cust = t.customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ords = t.orders.where(F.col("o_orderdate") < "1995-03-15").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = t.lineitem.where(F.col("l_shipdate") > "1995-03-15").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        ords.join(broadcast(cust), ords.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == ords.o_orderkey)
        .groupBy(
            F.col("l_orderkey").alias("o_key"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("o_key", "revenue", "orderdate", "priority")
        .orderBy(F.col("revenue").desc(), F.col("o_key"))
        .limit(20)
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           COALESCE(b.n_big, 0) AS n_big_items
    FROM orders o
    LEFT JOIN (SELECT l_orderkey, COUNT(*) AS n_big
               FROM lineitem WHERE l_quantity > 48 GROUP BY l_orderkey) b
      ON o.o_orderkey = b.l_orderkey
    WHERE o.o_totalprice > 350000
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER JOIN against a pre-aggregated subquery.

    Aggregate-before-join: shrink the right side ahead of the shuffle
    instead of joining raw lineitem then aggregating (100 TB rule).
    """
    t = Tables(spark, sf_dir)
    big = (
        t.lineitem.where(F.col("l_quantity") > 48)
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_big"))
    )
    o = t.orders.where(F.col("o_totalprice") > 350000)
    return o.join(big, o.o_orderkey == big.l_orderkey, "left").select(
        "o_orderkey",
        "o_orderstatus",
        F.coalesce(F.col("n_big"), F.lit(0)).alias("n_big_items"),
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT n.n_name, c.c_custkey
    FROM (SELECT * FROM customer WHERE c_acctbal > 9900) c
    RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER JOIN — nations kept even with no qualifying customer."""
    t = Tables(spark, sf_dir)
    c = t.customer.where(F.col("c_acctbal") > 9900)
    return c.join(t.nation, c.c_nationkey == t.nation.n_nationkey, "right").select(
        "n_name", "c_custkey"
    )


@query(
    "join_full_outer",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
                FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER JOIN of two aggregates (both sides may be missing)."""
    t = Tables(spark, sf_dir)
    cn = (
        t.customer.where(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    sn = t.supplier.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count("*").alias("n_supp")
    )
    return cn.join(sn, cn.nk == sn.nk, "full").select(
        F.coalesce(cn.nk, sn.nk).alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_discount >= 0.09)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI JOIN (Bingql.g4:1054) — existence only, no row multiplication."""
    t = Tables(spark, sf_dir)
    disc = t.lineitem.where(F.col("l_discount") >= 0.09).select("l_partkey")
    return t.part.join(
        disc, t.part.p_partkey == disc.l_partkey, "left_semi"
    ).select("p_partkey", "p_name")


@query(
    "join_left_anti",
    oracle="""
    SELECT p_partkey, p_brand
    FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI JOIN — the NOT IN / NOT EXISTS plan shape."""
    t = Tables(spark, sf_dir)
    used = t.lineitem.where(F.col("l_quantity") > 45).select("l_partkey")
    return t.part.join(
        used, t.part.p_partkey == used.l_partkey, "left_anti"
    ).select("p_partkey", "p_brand")


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, p.o_orderpriority
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS JOIN (small × small only — never cross-join fact tables)."""
    t = Tables(spark, sf_dir)
    prios = t.orders.select("o_orderpriority").distinct()
    return t.region.select("r_name").crossJoin(prios)


@query(
    "join_theta_nonequi",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_partkey, p.p_size
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey AND l.l_quantity > p.p_size + 40
    """,
)
def join_theta_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi key + non-equi residual (any bool_expr in ON).

    The equi conjunct keeps this a hash join with the inequality applied
    as a post-join filter — not a nested-loop (check explain).
    """
    t = Tables(spark, sf_dir)
    p = broadcast(t.part.select("p_partkey", "p_size"))
    li = t.lineitem
    return li.join(
        p,
        (li.l_partkey == p.p_partkey) & (li.l_quantity > p.p_size + 40),
    ).select("l_orderkey", "l_linenumber", "p_partkey", "p_size")


@query(
    "join_comma_implicit",
    oracle="""
    SELECT n.n_name, r.r_name
    FROM nation n, region r
    WHERE n.n_regionkey = r.r_regionkey AND r.r_name LIKE 'A%'
    """,
)
def join_comma_implicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comma-join with WHERE condition (reference defers ON to WHERE,
    SqlMetaDataExtractor.java:331-335) — Catalyst turns it into an
    equi-join, not a cartesian product."""
    t = Tables(spark, sf_dir)
    return (
        t.nation.crossJoin(t.region)
        .where((F.col("n_regionkey") == F.col("r_regionkey")) & F.col("r_name").like("A%"))
        .select("n_name", "r_name")
    )


@query(
    "join_q5_multiway",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 10000 AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1994-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def join_q5_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join. Dims (supplier/nation/region) broadcast;
    the only big shuffle is orders⋈lineitem on orderkey."""
    t = Tables(spark, sf_dir)
    region = t.region.where(F.col("r_name") == "ASIA")
    nat = t.nation.join(
        broadcast(region), t.nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    supp = t.supplier.join(
        broadcast(nat), t.supplier.s_nationkey == nat.n_nationkey
    ).select("s_suppkey", "s_nationkey", "n_name")
    ords = t.orders.where(
        (F.col("o_orderdate") >= "1994-01-01") & (F.col("o_orderdate") < "1996-01-01")
    ).select("o_orderkey", "o_custkey")
    oc = ords.join(
        t.customer.select("c_custkey", "c_nationkey"),
        ords.o_custkey == F.col("c_custkey"),
    )
    line = t.lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    joined = line.join(oc, line.l_orderkey == oc.o_orderkey).join(
        broadcast(supp),
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("c_nationkey") == F.col("s_nationkey")),
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), "nation")
    )


@query(
    "join_self",
    oracle="""
    SELECT a.l_orderkey, a.l_linenumber AS ln_a, b.l_linenumber AS ln_b
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
    WHERE a.l_quantity > 49 AND b.l_quantity > 49
    """,
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join (reference test case 0010's shape): pairs of max-quantity
    line items within one order."""
    t = Tables(spark, sf_dir)
    a = t.lineitem.where(F.col("l_quantity") > 49).select(
        "l_orderkey", "l_linenumber"
    ).alias("a")
    b = t.lineitem.where(F.col("l_quantity") > 49).select(
        "l_orderkey", "l_linenumber"
    ).alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
    ).select(
        F.col("a.l_orderkey").alias("l_orderkey"),
        F.col("a.l_linenumber").alias("ln_a"),
        F.col("b.l_linenumber").alias("ln_b"),
    )


_BHINT_ORACLE = """
    SELECT n.n_name, count(*) AS n_suppliers
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
"""


@query("join_broadcast_hint", _BHINT_ORACLE)
def join_broadcast_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast() hint on the dimension side — the manual
    override for when statistics mislead AQE (tests assert the plan is a
    BroadcastHashJoin with no shuffle on the fact side)."""
    t = Tables(spark, sf_dir)
    return (
        t.supplier.join(
            F.broadcast(t.nation),
            t.supplier.s_nationkey == t.nation.n_nationkey,
        )
        .groupBy("n_name")
        .agg(F.count("*").alias("n_suppliers"))
        .orderBy("n_name")
    )


_NULLSAFE_JOIN_ORACLE = """
    WITH a AS (
      SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN NULL
                          ELSE doc_id % 5 END AS k
      FROM documents WHERE doc_id < 100
    ),
    b AS (
      SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN NULL
                          ELSE doc_id % 5 END AS k
      FROM documents WHERE doc_id BETWEEN 100 AND 200
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.k
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY doc_a, doc_b
"""


@query("join_null_safe_keys", _NULLSAFE_JOIN_ORACLE)
def join_null_safe_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other — still a hash join (the null-safe operator is a
    valid equi-join key), NOT a fallback to nested-loop."""
    t = Tables(spark, sf_dir)
    base = t.documents.select("doc_id")
    a = base.where(F.col("doc_id") < 100).select(
        F.col("doc_id").alias("doc_a"),
        F.when(F.col("doc_id") % 7 == 0, None)
        .otherwise(F.col("doc_id") % 5)
        .alias("k"),
    )
    b = base.where(F.col("doc_id").between(100, 200)).select(
        F.col("doc_id").alias("doc_b"),
        F.when(F.col("doc_id") % 3 == 0, None)
        .otherwise(F.col("doc_id") % 5)
        .alias("kb"),
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["kb"]))
        .select("doc_a", "doc_b", "k")
        .orderBy("doc_a", "doc_b")
    )


_SKEW_AQE_ORACLE = """
    WITH skewed AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS skew_key,
             value
      FROM events
    ),
    dim AS (SELECT DISTINCT user_id AS skew_key, user_id % 7 AS tier
            FROM events)
    SELECT s.skew_key, d.tier, count(*) AS cnt,
           CAST(round(sum(s.value)::DECIMAL(28,2), 2) AS DOUBLE) AS total
    FROM skewed s JOIN dim d ON s.skew_key = d.skew_key
    GROUP BY s.skew_key, d.tier
    ORDER BY s.skew_key
"""


_SKEW_CONFS = {
    # lower AQE size thresholds to test-data scale so the runtime skew
    # splitter engages on ~MB inputs; at 100 TB the DEFAULTS (256 MB
    # threshold, 64 MB advisory, 1 MB min partition) trigger identically
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    # the demo aggregates on the join key downstream, which would reuse
    # the join's partitioning; force tells AQE the skew split is worth
    # the extra exchange it then needs (the default behavior declines)
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
}


def skew_join_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skewed-join plan (unexecuted): half the fact rows collapse
    onto one hot key; the fact side is repartitioned so the join shuffle
    has many mappers — AQE's skew split is per-mapper chunks, so a
    single-mapper stage (one small parquet file) can never split."""
    from kachess_spark.catalog import load_table, spread

    ev = load_table(spark, sf_dir, "events")
    skewed = spread(ev).select(
        F.when(F.col("user_id") % 2 == 0, 0)
        .otherwise(F.col("user_id"))
        .alias("skew_key"),
        "value",
    )
    dim = ev.select(
        F.col("user_id").alias("skew_key"),
        (F.col("user_id") % 7).alias("tier"),
    ).distinct()
    joined = skewed.hint("merge").join(dim, "skew_key")
    return (
        joined.groupBy("skew_key", "tier")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum(F.col("value").cast("decimal(28,2)")), 2)
            .cast("double")
            .alias("total"),
        )
        .orderBy("skew_key")
    )


@query("join_skew_aqe", _SKEW_AQE_ORACLE)
def join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join splitting, forced observable at test scale.

    Half of the fact rows collapse onto one hot key (the classic
    power-law consumer).  With AQE thresholds lowered to test-data
    sizes, the oversized post-shuffle partition is detected at runtime
    and split across tasks by mapper-chunk ranges —
    ``SortMergeJoin(skew=true)`` (asserted in tests/test_plans.py).  At
    100 TB the default thresholds trigger the same re-plan with no query
    change: the no-salting path for skewed equi-joins, complementing the
    manual two-phase salt in agg_skew_two_phase.
    """
    saved = {k: spark.conf.get(k, None) for k in _SKEW_CONFS}
    for k, v in _SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        # barrier: boundary — run INSIDE the conf window (the plan is
        # lazy; without this the finally-block restores defaults before
        # execution and the splitter never engages)
        return barrier(skew_join_build(spark, sf_dir), eager=True)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


_Q7_ORACLE = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(floor(volume * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= DATE '1996-01-01'
        AND l.l_shipdate <  DATE '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


@query("join_q7_volume_shipping", _Q7_ORACLE)
def join_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: 6-way join with a symmetric nation-pair predicate
    and per-year revenue rollup.

    Scale plan: nation (25 rows) broadcasts twice; supplier and customer
    broadcast under the 64 MB threshold at cluster scale too; the only
    big-big shuffle is lineitem⋈orders on orderkey.  The nation-pair
    disjunction filters AFTER the nation joins (it references both
    sides), but the per-side `IN ('NATION_1','NATION_2')` implication is
    pushed to each dimension scan to shrink the broadcast.
    """
    from kachess_spark.operators._util import dsum

    t = Tables(spark, sf_dir)
    nations = ("NATION_1", "NATION_2")
    n1 = t.nation.where(F.col("n_name").isin(*nations)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t.nation.where(F.col("n_name").isin(*nations)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s = t.supplier.join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")
    ).select("s_suppkey", "supp_nation")
    c = t.customer.join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")
    ).select("c_custkey", "cust_nation")
    li = t.lineitem.where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    joined = (
        li.join(t.orders, li["l_orderkey"] == t.orders["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume", "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_BLOOM_ORACLE = """
    SELECT o_orderpriority, count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
"""

_BLOOM_CONFS = {
    # disable broadcast so the join is shuffle-based (broadcast joins
    # don't need a bloom filter — the hash relation IS the filter), and
    # lower the application-side threshold to test-data scale; at 100 TB
    # the defaults (10 MB creation side / 10 GB probe side) fire on any
    # selective dim filter against a big fact
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10KB",
}


def bloom_join_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dim shuffle join eligible for a runtime bloom filter
    (unexecuted plan; build under _BLOOM_CONFS)."""
    t = Tables(spark, sf_dir)
    o = t.orders.where(F.col("o_orderpriority") == "1-URGENT")
    return (
        t.lineitem.join(o, t.lineitem["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_items"))
    )


@query("join_bloom_runtime_filter", _BLOOM_ORACLE)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter pushdown: the selective orders filter builds
    a bloom_filter_agg over its join keys, and Catalyst injects
    `might_contain(...)` into the LINEITEM SCAN — fact rows that cannot
    match are dropped before the shuffle, cutting shuffle volume by the
    dim filter's selectivity (~1/5 here).  Plan-asserted in
    tests/test_plans.py.  The optimizer rule runs at PLANNING time, so
    the confs must wrap DataFrame construction, not just execution.
    """
    saved = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        # barrier: boundary — run inside the conf window
        return barrier(bloom_join_build(spark, sf_dir), eager=True)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


_SALTED_ORACLE = """
    WITH skewed AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS skew_key,
             value
      FROM events
    ),
    dim AS (
      SELECT DISTINCT user_id AS skew_key, user_id % 7 AS tier FROM events
    )
    SELECT d.tier, count(*) AS n_rows,
           CAST(SUM(CAST(floor((s.value) * 10000 + 0.5) AS BIGINT))
                AS DOUBLE) / 10000 AS total_value
    FROM skewed s JOIN dim d ON d.skew_key = s.skew_key
    GROUP BY d.tier
    ORDER BY d.tier
"""


@query("join_salted_manual", _SALTED_ORACLE)
def join_salted_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual salting for a skewed shuffle join — the technique for when
    AQE's splitter can't help (skew invisible at plan time, or the
    skewed side must SortMergeJoin a non-broadcastable dim): the fact
    key gains a random-but-deterministic salt in [0, R), the dim side
    replicates R ways via posexplode, and the join key becomes
    (key, salt) — the hot key's rows spread over R reducers.

    Scale plan: R=8 multiplies only the DIM side (small) by 8; the fact
    side gets one extra int column.  Salt must be deterministic
    per-row (hash-derived, not rand()) so retries and the oracle agree.
    The result is identical to the unsalted join — the oracle computes
    the plain form.
    """
    from kachess_spark.catalog import load_table

    R = 8
    ev = load_table(spark, sf_dir, "events")
    skewed = ev.select(
        F.when(F.col("user_id") % 2 == 0, 0)
        .otherwise(F.col("user_id"))
        .alias("skew_key"),
        "value",
        (F.abs(F.hash("event_id")) % R).alias("salt"),
    )
    dim = (
        ev.select(
            F.col("user_id").alias("skew_key"),
            (F.col("user_id") % 7).alias("tier"),
        )
        .distinct()
        .select(
            "skew_key",
            "tier",
            F.explode(F.array(*[F.lit(i) for i in range(R)])).alias("salt"),
        )
    )
    joined = skewed.hint("merge").join(dim, ["skew_key", "salt"])
    return (
        joined.groupBy("tier")
        .agg(
            F.count("*").alias("n_rows"),
            (
                F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint"))
                .cast("double")
                / 10000
            ).alias("total_value"),
        )
        .orderBy("tier")
    )


_HINT_ORACLE = """
    SELECT n.n_name, count(*) AS n_suppliers,
           CAST(SUM(CAST(floor(s.s_acctbal * 10000 + 0.5) AS BIGINT))
                AS DOUBLE) / 10000 AS total_bal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
"""


def hint_join_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hinted-join plan itself (plan-asserted in tests/test_plans.py
    inside its own no-auto-broadcast conf window)."""
    from kachess_spark.catalog import register_views

    register_views(spark, sf_dir, ("supplier", "nation"))
    return spark.sql(
        """
        SELECT /*+ BROADCAST(n) */
               n.n_name, count(*) AS n_suppliers,
               CAST(SUM(CAST(floor(s.s_acctbal * 10000 + 0.5) AS BIGINT))
                    AS DOUBLE) / 10000 AS total_bal
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY n.n_name
        """
    )


@query("join_hint_broadcast", _HINT_ORACLE)
def join_hint_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL join-strategy hints (`/*+ BROADCAST(n) */`): the hint — not
    the size estimate — picks the join strategy.  Forced observable by
    disabling the automatic broadcast threshold during planning
    (materialized inside the conf window), so only the hint can produce
    the BroadcastHashJoin.  At 100 TB hints are how you pin a strategy
    the optimizer's stats would get wrong (e.g. a filtered dim whose
    post-filter size the estimator overstates)."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # barrier: boundary — run inside the conf window
        return barrier(hint_join_build(spark, sf_dir), eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


_SCD2_ASOF_ORACLE = """
    WITH dim AS (
      SELECT c_custkey,
             CASE WHEN v = 1 AND changed THEN c_mktsegment
                  WHEN v = 2 THEN 'PREMIUM'
                  ELSE c_mktsegment END AS segment,
             CASE WHEN v = 2 THEN DATE '1996-01-01'
                  ELSE DATE '1990-01-01' END AS valid_from,
             CASE WHEN v = 1 AND changed THEN DATE '1996-01-01'
                  ELSE DATE '9999-12-31' END AS valid_to
      FROM (
        SELECT c_custkey, c_mktsegment,
               (c_acctbal > 9000 AND c_mktsegment <> 'PREMIUM') AS changed
        FROM customer
      ), (SELECT unnest(range(1, 3)) AS v)
      WHERE v = 1 OR changed
    )
    SELECT d.segment, count(*) AS n_orders,
           CAST(SUM(CAST(floor((o.o_totalprice) * 10000 + 0.5) AS BIGINT))
                AS DOUBLE) / 10000 AS revenue
    FROM orders o
    JOIN dim d ON o.o_custkey = d.c_custkey
              AND o.o_orderdate >= d.valid_from
              AND o.o_orderdate < d.valid_to
    GROUP BY d.segment
    ORDER BY d.segment
"""


@query("join_scd2_asof", _SCD2_ASOF_ORACLE)
def join_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension join: facts pick the SCD-2 version effective
    AT the fact's own date (`valid_from <= o_orderdate < valid_to`) —
    the as-of join every star schema with history runs.  The versioned
    dim is the sink_upsert_scd2 construction (conditionally exploded
    version structs).

    Scale plan: the dim (≤2 versions/key) broadcasts; the fact side
    joins on the equi-key with the validity range as a residual
    predicate inside the broadcast hash join — no shuffle of facts, no
    range-join blowup (each fact matches exactly one version by
    construction)."""
    t = Tables(spark, sf_dir)
    eff, lo, hi = "1996-01-01", "1990-01-01", "9999-12-31"
    base = t.customer.select(
        "c_custkey",
        "c_mktsegment",
        (
            (F.col("c_acctbal") > 9000)
            & (F.col("c_mktsegment") != "PREMIUM")
        ).alias("changed"),
    )
    versions = F.when(
        F.col("changed"),
        F.array(
            F.struct(
                F.col("c_mktsegment").alias("segment"),
                F.lit(lo).cast("date").alias("valid_from"),
                F.lit(eff).cast("date").alias("valid_to"),
            ),
            F.struct(
                F.lit("PREMIUM").alias("segment"),
                F.lit(eff).cast("date").alias("valid_from"),
                F.lit(hi).cast("date").alias("valid_to"),
            ),
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.col("c_mktsegment").alias("segment"),
                F.lit(lo).cast("date").alias("valid_from"),
                F.lit(hi).cast("date").alias("valid_to"),
            )
        )
    )
    dim = base.select(
        "c_custkey", F.explode(versions).alias("v")
    ).select("c_custkey", "v.segment", "v.valid_from", "v.valid_to")
    return (
        t.orders.join(
            broadcast(dim),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderdate") >= F.col("valid_from"))
            & (F.col("o_orderdate") < F.col("valid_to")),
        )
        .groupBy("segment")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "revenue"))
        .orderBy("segment")
    )


# ------------------------------------------ edit-distance similarity join

_FUZZY_K = 2  # maximum Levenshtein distance

_FUZZY_ORACLE = f"""
    WITH names AS (
      SELECT p_name AS name, COUNT(*) AS n FROM part GROUP BY p_name
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist,
           a.n AS n_a, b.n AS n_b
    FROM names a JOIN names b ON a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {_FUZZY_K}
    ORDER BY name_a, name_b
"""


def _del1(col: str) -> str:
    """SQL lambda: all strings obtained by deleting ONE character."""
    return (
        f"transform(sequence(1, length({col})), i ->"
        f" concat(substring({col}, 1, i - 1),"
        f" substring({col}, i + 1, length({col}))))"
    )


@query("join_fuzzy_editdist", _FUZZY_ORACLE)
def join_fuzzy_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join (the data-cleaning fuzzy join):
    all part-name pairs within Levenshtein distance 2 (see _FUZZY_K),
    with
    each name's occurrence count — candidates from FastSS deletion
    neighborhoods (Bocek et al. 2007), verification exact.

    Exactness: if ed(a, b) = d <= k, deleting the <= d edited
    positions of an optimal alignment from each string leaves a COMMON
    string, so the <= k-deletion neighborhoods intersect — the
    variant-equality join yields a candidate SUPERSET, and the exact
    ``levenshtein`` filter keeps precisely the true pairs (the DuckDB
    oracle computes the all-pairs ground truth).

    Scale shape: the neighborhood explode is O(len^k) variants per
    DISTINCT name (never per row), candidates come from an EQUALITY
    join on the variant string — an inverted index, no all-pairs, no
    cartesian — and verification runs only on colliding pairs.  This
    is how SymSpell/FastSS deployments do fuzzy matching over 1e9
    keys; the reference has no fuzzy join (levenshtein exists only as
    a scalar, scalars.py twin), so this is pipeline-breadth beyond it.
    """
    t = Tables(spark, sf_dir)
    names = (
        t.part.groupBy(F.col("p_name").alias("name"))
        .agg(F.count("*").alias("n"))
    )
    s = "name"
    variants = (
        f"array_distinct(concat(array({s}), {_del1(s)},"
        f" flatten(transform({_del1(s)}, t -> {_del1('t')}))))"
    )
    inv = names.select(
        "name", "n", F.explode(F.expr(variants)).alias("v")
    )
    cand = (
        inv.select(
            F.col("name").alias("name_a"), F.col("n").alias("n_a"), "v"
        )
        .join(
            inv.select(
                F.col("name").alias("name_b"), F.col("n").alias("n_b"), "v"
            ),
            "v",
        )
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", "n_a", "n_b")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= _FUZZY_K)
        .select("name_a", "name_b", "dist", "n_a", "n_b")
        .orderBy("name_a", "name_b")
    )
