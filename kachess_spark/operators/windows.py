"""Window functions (SURVEY.md §2.5).

Reference constructs: RANK/DENSE_RANK/ROW_NUMBER/CUME_DIST, LAG/LEAD,
FIRST_VALUE/LAST_VALUE, agg+OVER, PARTITION BY / ORDER BY, ROWS/RANGE
frames, named windows (Bingql.g4:1366-1413; QUALIFY :1110-1112).

Determinism: every ORDER BY inside a window spec is made total with a
unique key tiebreaker; windowed sums run over decimal-cast inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kachess_spark.catalog import Tables, barrier, register_views
from kachess_spark.operators._util import DEC
from kachess_spark.registry import query


@query(
    "win_rank_topk",
    oracle="""
    SELECT * FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             RANK()       OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
             DENSE_RANK() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS drnk,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def win_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK/DENSE_RANK/ROW_NUMBER + the QUALIFY pattern (filter on rn).

    Top-k per group via row_number is the scale-safe idiom: one shuffle
    on the partition key, no global sort.
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t.orders.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate,
           LAG(o_orderkey)  OVER w AS prev_order,
           LEAD(o_orderkey) OVER w AS next_order,
           LAG(o_orderkey, 2, -1) OVER w AS prev2_order
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD with offset + default, over a named window (WINDOW w AS —
    defined once as a Python Window object, the Spark-native equivalent)."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t.orders.where(F.col("o_custkey") < 200).select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("odate"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.lag("o_orderkey", 2, -1).over(w).alias("prev2_order"),
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
             OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS running_price,
           COUNT(*) OVER (PARTITION BY l_orderkey) AS n_lines
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate OVER with a ROWS frame (running total) + unbounded count.

    Exact decimal running sum, final-cast to double (driver-safe output
    schema)."""
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_orderkey")
    return t.lineitem.where(F.col("l_orderkey") < 1000).select(
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_extendedprice").cast(DEC))
        .over(w)
        .cast("double")
        .alias("running_price"),
        F.count("*").over(wall).alias("n_lines"),
    )


@query(
    "win_sliding_frame",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
             OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS qty_3line,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
             OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                   ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING)
             AS DOUBLE) AS qty_ahead
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
)
def win_sliding_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS frames: n PRECEDING..CURRENT and FOLLOWING..FOLLOWING
    (all four expr_window_spec alternatives, Bingql.g4:1408-1413)."""
    t = Tables(spark, sf_dir)
    base = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    q = F.col("l_quantity").cast(DEC)
    return t.lineitem.where(F.col("l_orderkey") < 1000).select(
        "l_orderkey",
        "l_linenumber",
        F.sum(q)
        .over(base.rowsBetween(-2, Window.currentRow))
        .cast("double")
        .alias("qty_3line"),
        F.sum(q).over(base.rowsBetween(1, 2)).cast("double").alias("qty_ahead"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           COUNT(*) OVER (ORDER BY o_totalprice
                          RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS n_within_1k
    FROM orders
    WHERE o_orderkey < 400
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering (value-based window).

    A partition-less window moves everything to ONE task (Spark warns) —
    acceptable here only because the input is pre-filtered small.  The
    100 TB plan for a global RANGE frame is range-bucketing: bucket by
    floor(value/width), compute frames within buckets, patch the ±1
    boundary via neighbor-bucket overlap (exactly the banded pattern in
    operators/asof.py::join_range_events)."""
    t = Tables(spark, sf_dir)
    w = Window.orderBy("o_totalprice").rangeBetween(-1000, 1000)
    return t.orders.where(F.col("o_orderkey") < 400).select(
        "o_orderkey",
        "o_totalprice",
        F.count("*").over(w).alias("n_within_1k"),
    )


@query(
    "win_first_last_value",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           FIRST_VALUE(l_partkey) OVER (PARTITION BY l_orderkey
                                        ORDER BY l_linenumber) AS first_part,
           LAST_VALUE(l_partkey)  OVER (PARTITION BY l_orderkey
                                        ORDER BY l_linenumber
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND UNBOUNDED FOLLOWING) AS last_part
    FROM lineitem
    WHERE l_orderkey < 500
    """,
)
def win_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE (with the full-frame fix for LAST_VALUE)."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t.lineitem.where(F.col("l_orderkey") < 500).select(
        "l_orderkey",
        "l_linenumber",
        F.first("l_partkey").over(w).alias("first_part"),
        F.last("l_partkey").over(wfull).alias("last_part"),
    )


@query(
    "win_cume_ntile",
    oracle="""
    SELECT c_custkey, c_acctbal,
           ROUND(CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey), 8) AS cd,
           NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile,
           ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey), 8) AS pr
    FROM customer
    WHERE c_nationkey = 5
    """,
)
def win_cume_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUME_DIST (Bingql.g4:1378) + NTILE + PERCENT_RANK.

    Global rank functions need a total order (single partition —
    pre-filtered small input here).  At 100 TB: two-pass rank — sample
    for range boundaries → rank within ranges → add per-range offsets
    (what RangePartitioner + zipWithIndex-style plans do)."""
    t = Tables(spark, sf_dir)
    w = Window.orderBy("c_acctbal", "c_custkey")
    return t.customer.where(F.col("c_nationkey") == 5).select(
        "c_custkey",
        "c_acctbal",
        F.round(F.cume_dist().over(w), 8).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 8).alias("pr"),
    )


@query(
    "win_qualify_sql",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal
    FROM customer
    QUALIFY ROW_NUMBER() OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal DESC, c_custkey) = 1
    """,
)
def win_qualify_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY (Teradata; Bingql.g4:1110-1112).  Spark has no QUALIFY —
    rewritten as window + filter, the documented rewrite in SURVEY §2.4."""
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(
        """
        SELECT c_nationkey, c_custkey, c_acctbal FROM (
          SELECT c_nationkey, c_custkey, c_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                    ORDER BY c_acctbal DESC, c_custkey) AS rn
          FROM customer
        ) WHERE rn = 1
        """
    )


_NAMED_WIN_ORACLE = """
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER w AS rn,
           CAST(round(SUM(o_totalprice) OVER w::DECIMAL(28,2), 2) AS DOUBLE)
             AS running_total
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING)
    ORDER BY o_custkey, rn
"""


@query("win_named_windows", _NAMED_WIN_ORACLE)
def win_named_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named windows: `WINDOW w AS (…)` defined once, referenced by
    multiple functions (window_as_options, Bingql.g4:954-956) — run as
    SQL text so the named-window syntax itself is exercised."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER w AS rn,
               CAST(round(CAST(SUM(o_totalprice) OVER w AS DECIMAL(28,2)), 2)
                    AS DOUBLE) AS running_total
        FROM orders
        WHERE o_custkey < 200
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING)
        ORDER BY o_custkey, rn
        """
    )


_RATIO_ORACLE = """
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS cnt,
           ROUND(CAST(count(*) AS DOUBLE)
                 / SUM(count(*)) OVER (PARTITION BY o_orderpriority),
                 6) AS share_of_priority
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    ORDER BY o_orderpriority, o_orderstatus
"""


@query("win_ratio_to_total", _RATIO_ORACLE)
def win_ratio_to_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: aggregate then window-over-the-aggregate (share
    of each status within its priority) — two-level computation in one
    plan, no self-join against the totals."""
    t = Tables(spark, sf_dir)
    counted = t.orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("o_orderpriority")
    return counted.select(
        "o_orderpriority",
        "o_orderstatus",
        "cnt",
        F.round(F.col("cnt").cast("double") / F.sum("cnt").over(w), 6).alias(
            "share_of_priority"
        ),
    ).orderBy("o_orderpriority", "o_orderstatus")


_PCT_NTH_ORACLE = """
    SELECT o_orderkey, o_orderpriority,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           nth_value(o_orderkey, 3) OVER (
             PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS third_cheapest
    FROM orders
    WHERE o_orderkey <= 2000
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderpriority, pct_rank, o_orderkey
"""


@query("win_percent_nth", _PCT_NTH_ORACLE)
def win_percent_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK + NTH_VALUE with an explicit full-frame (§2.5):
    percent_rank is (rank-1)/(n-1) — one exact IEEE division, portable;
    nth_value needs the UNBOUNDED FOLLOWING frame to see the whole
    partition on both engines."""
    t = Tables(spark, sf_dir)
    order_w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    full_w = order_w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        t.orders.where(F.col("o_orderkey") <= 2000)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.percent_rank().over(order_w), 6).alias("pct_rank"),
            F.nth_value("o_orderkey", 3).over(full_w).alias("third_cheapest"),
        )
        .orderBy("o_orderpriority", "pct_rank", "o_orderkey")
    )


_CUM_DISTINCT_ORACLE = """
    WITH first_seen AS (
      SELECT event_type, user_id, min(ts) AS first_ts
      FROM events GROUP BY event_type, user_id
    ),
    daily AS (
      SELECT event_type, CAST(first_ts AS DATE) AS day,
             count(*) AS new_users
      FROM first_seen GROUP BY event_type, day
    )
    SELECT event_type, day, new_users,
           CAST(SUM(new_users) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_distinct_users
    FROM daily
    ORDER BY event_type, day
"""


@query("win_cumulative_distinct", _CUM_DISTINCT_ORACLE)
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative COUNT(DISTINCT) over time — a window SQL can't express
    directly (DISTINCT isn't allowed in a running frame).  The classic
    rewrite: distinct-ness collapses to each user's FIRST event
    (min-ts), daily new-user counts aggregate those, and a plain
    running SUM over days is then exactly the cumulative distinct
    count.

    Scale plan: two shuffles that both shrink data — (type, user)
    min-agg, then (type, day) count — and the window runs over ~#days
    rows per type, not #events.  The naive collect_set-over-window
    holds every user id in every frame: O(users) state per row, a
    100 TB memory grenade.
    """
    t = Tables(spark, sf_dir)
    first_seen = t.events.groupBy("event_type", "user_id").agg(
        F.min("ts").alias("first_ts")
    )
    daily = first_seen.groupBy(
        "event_type", F.to_date("first_ts").alias("day")
    ).agg(F.count("*").alias("new_users"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cum_distinct_users"),
    ).orderBy("event_type", "day")


_ROLLING_TIME_ORACLE = """
    WITH daily AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(floor((o_totalprice) * 10000 + 0.5) AS BIGINT))
                  AS BIGINT) AS spent_scaled
      FROM orders
      GROUP BY o_custkey, day
    )
    SELECT o_custkey, day,
           CAST(SUM(spent_scaled) OVER (
             PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 10000 AS rolling_7d_spend
    FROM daily
    WHERE o_custkey < 100
    ORDER BY o_custkey, day
"""


@query("win_rolling_time_window", _ROLLING_TIME_ORACLE)
def win_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: each day's row sees the trailing
    7 calendar days (not 7 rows — gaps in the series must not stretch
    the window).  Spark expresses interval frames as a rangeBetween on
    epoch seconds; the day-level pre-aggregation keeps the frame exact
    and the per-partition state small.

    Scale plan: ONE shuffle on custkey serves both the daily rollup
    and the window (groupBy key is a superset); frames scan at most 7
    day-rows per step.  Fixed-point day totals make the rolling sum
    run-order deterministic.
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.orders.groupBy(
            "o_custkey", F.to_date("o_orderdate").alias("day")
        )
        .agg(F.sum(F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5)).cast("bigint")).alias("spent_scaled"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("day").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    return (
        daily.where(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "day",
            (F.sum("spent_scaled").over(w).cast("double") / 10000).alias(
                "rolling_7d_spend"
            ),
        )
        .orderBy("o_custkey", "day")
    )


_FFILL_ORACLE = """
    SELECT event_id, user_id, ts,
           LAST_VALUE(reading IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_reading
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type IN ('view', 'click') THEN NULL
                  ELSE value END AS reading
      FROM events
    )
    WHERE user_id < 20
    ORDER BY user_id, ts, event_id
"""


@query("win_forward_fill", _FFILL_ORACLE)
def win_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (last-observation-carried-forward) over a sparse
    series: view/click events carry no reading, so each row takes the
    most recent non-null value — ``last(..., ignorenulls)`` with a
    running ROWS frame.  The (ts, event_id) compound order makes the
    fill total-order deterministic under concurrent timestamps.

    Scale plan: one shuffle on user_id; running frames stream in order
    with O(1) state per row.  Null-ness is derived in the same pass —
    no self-join against the dense subset (the naive as-of-join
    formulation shuffles twice and fans out).
    """
    ev = Tables(spark, sf_dir).events
    reading = F.when(
        F.col("event_type").isin("view", "click"), F.lit(None)
    ).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select("event_id", "user_id", "ts", reading.alias("reading"))
        .where(F.col("user_id") < 20)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.last("reading", ignorenulls=True).over(w).alias("filled_reading"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


# ------------------------------------------- time-bounded funnel match

FUNNEL_WINDOW = "INTERVAL 1 DAY"  # each hop must land within 1 day

_TB_FUNNEL_ORACLE = f"""
    WITH nxt AS (
      SELECT user_id, event_type, ts,
             min(CASE WHEN event_type = 'click' THEN ts END) OVER w
               AS next_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) OVER w
               AS next_purchase
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    signups AS (
      SELECT s.user_id, s.ts AS t_signup, s.next_click AS t_click,
             c.next_purchase AS t_purchase
      FROM nxt s
      LEFT JOIN nxt c
        ON c.user_id = s.user_id AND c.event_type = 'click'
       AND c.ts = s.next_click
      WHERE s.event_type = 'signup'
    )
    SELECT count(*) AS n_signups,
           count(*) FILTER (t_click IS NOT NULL
                            AND t_click <= t_signup + {FUNNEL_WINDOW})
             AS n_clicked_in_window,
           count(*) FILTER (t_click IS NOT NULL
                            AND t_click <= t_signup + {FUNNEL_WINDOW}
                            AND t_purchase IS NOT NULL
                            AND t_purchase <= t_click + {FUNNEL_WINDOW})
             AS n_converted_in_window
    FROM signups
"""


@query("win_funnel_time_bound", _TB_FUNNEL_ORACLE)
def win_funnel_time_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded sequential funnel: signup → first click within 1 day →
    first purchase within 1 day of THAT click — per-event sequential
    matching (the attribution-window semantics), unlike
    agg_funnel_events' unordered min-per-stage funnel.

    Each event row gets its user's next click/purchase time from ONE
    forward-frame window pass (rows 1 following → unbounded); a signup's
    matched click then contributes its own next-purchase via a self
    equi-join on the matched timestamp — every step is a window or a
    hash join keyed on user_id, no per-row subqueries.  Ambiguity is
    resolved identically in both engines by the (ts, event_id) frame
    order.  A click shared by two signups attributes to both — the
    documented (and oracle-matched) first-touch convention.
    """
    ev = Tables(spark, sf_dir).events.select("user_id", "event_type", "ts", "event_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    # barrier: reuse — the signup and click sides both read the window
    nxt = barrier(ev.select(
        "user_id",
        "event_type",
        "ts",
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).over(w)
          .alias("next_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(w)
          .alias("next_purchase"),
    ))
    s = nxt.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("t_signup"),
        F.col("next_click").alias("t_click"),
    )
    c = nxt.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("ts").alias("ct"),
        F.col("next_purchase").alias("t_purchase"),
    )
    joined = s.join(
        c,
        (F.col("user_id") == F.col("cu")) & (F.col("t_click") == F.col("ct")),
        "left",
    )
    hop = F.expr(FUNNEL_WINDOW)
    clicked = F.col("t_click").isNotNull() & (
        F.col("t_click") <= F.col("t_signup") + hop
    )
    converted = (
        clicked
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") <= F.col("t_click") + hop)
    )
    return joined.agg(
        F.count("*").alias("n_signups"),
        F.sum(clicked.cast("long")).alias("n_clicked_in_window"),
        F.sum(converted.cast("long")).alias("n_converted_in_window"),
    )


# ------------------------------------------- CUSUM changepoint scan

_CUSUM_ORACLE = """
    WITH v AS (
      SELECT event_type, ts, event_id,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vi
      FROM events
    ),
    tot AS (
      SELECT event_type, COUNT(*)::BIGINT AS n, SUM(vi)::BIGINT AS total
      FROM v GROUP BY event_type
    ),
    s AS (
      SELECT v.event_type, v.ts, t.n,
             ROW_NUMBER() OVER w AS idx,
             SUM(t.n * v.vi - t.total) OVER (
               PARTITION BY v.event_type ORDER BY v.ts, v.event_id
               ROWS UNBOUNDED PRECEDING) AS cusum
      FROM v JOIN tot t USING (event_type)
      WINDOW w AS (PARTITION BY v.event_type ORDER BY v.ts, v.event_id)
    )
    SELECT event_type, MAX(n)::BIGINT AS n,
           MIN(idx) FILTER (ABS(cusum) = m)::BIGINT AS cp_index,
           ROUND(CAST(MAX(m) AS DOUBLE) / (MAX(n) * 10000.0), 6)
             AS max_excursion
    FROM (SELECT *, MAX(ABS(cusum)) OVER (PARTITION BY event_type) AS m
          FROM s)
    GROUP BY event_type
    ORDER BY event_type
"""


@query("profile_changepoint_cusum", _CUSUM_ORACLE)
def profile_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan per event type: the cumulative sum of
    deviations from the series mean peaks at the most likely level-shift
    point — the classic drift-location monitor next to KS (which says
    THAT distributions differ, not WHERE the shift happened).

    Exactness without float risk: values fix to 1e-4 integers and the
    deviation is scaled to n·v_i − Σv (all integers), so the running
    CUSUM is integer arithmetic — associative, identical under any
    window implementation (Spark's running frame vs DuckDB's segment
    tree) where a float running sum would depend on association order.
    One shuffle on event_type; the running frame is partition-local.
    """
    ev = Tables(spark, sf_dir).events.select("event_type", "ts", "event_id", "value")
    v = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("vi"),
    )
    tot = v.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("vi").cast("long").alias("total"),
    )
    w_ord = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    s = (
        v.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "n",
            F.row_number().over(w_ord).alias("idx"),
            F.sum(F.col("n") * F.col("vi") - F.col("total"))
            .over(w_run)
            .alias("cusum"),
        )
        .withColumn(
            "m", F.max(F.abs("cusum")).over(Window.partitionBy("event_type"))
        )
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.min(F.when(F.abs("cusum") == F.col("m"), F.col("idx")))
            .cast("long")
            .alias("cp_index"),
            F.round(
                F.max("m").cast("double") / (F.max("n") * 10000.0), 6
            ).alias("max_excursion"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------- rolling autocorrelation

ROLL_CORR_WINDOW = 100  # trailing pairs per correlation
ROLL_CORR_EVERY = 500  # emit a checkpoint row every N pairs

_ROLL_CORR_ORACLE = f"""
    WITH v AS (
      SELECT event_type, ts, event_id,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vi
      FROM events
    ),
    pairs AS (
      SELECT event_type, ts, event_id, vi AS x,
             lag(vi) OVER (PARTITION BY event_type
                           ORDER BY ts, event_id) AS y,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS idx
      FROM v
    ),
    sums AS (
      SELECT event_type, idx,
             COUNT(*) OVER w AS n,
             SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
             SUM(x * y) OVER w AS sxy,
             SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy
      FROM pairs
      WHERE y IS NOT NULL
      WINDOW w AS (PARTITION BY event_type ORDER BY idx
                   ROWS BETWEEN {ROLL_CORR_WINDOW - 1} PRECEDING
                            AND CURRENT ROW)
    )
    SELECT event_type, idx, n::BIGINT AS n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
             AS autocorr
    FROM sums
    WHERE idx % {ROLL_CORR_EVERY} = 0
    ORDER BY event_type, idx
"""


@query("win_rolling_autocorr", _ROLL_CORR_ORACLE)
def win_rolling_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{ROLL_CORR_WINDOW} lag-1 autocorrelation of each event
    type's value stream, checkpointed every {ROLL_CORR_EVERY} events —
    the signal-persistence monitor (a regime change shows up as an
    autocorrelation shift before a level test fires).

    Exactness: values fix to 1e-4 integers, so every windowed Σ (x, y,
    xy, x², y²) is an exact BIGINT under any window implementation; the
    correlation assembles n·Σxy − ΣxΣy and the variance terms as
    integers (bounded ≪ 2^63 for this window size) and divides once in
    double — both engines compute the identical value.  One shuffle on
    event_type; all frames are partition-local.
    """
    ev = Tables(spark, sf_dir).events.select("event_type", "ts", "event_id", "value")
    v = ev.select(
        "event_type", "ts", "event_id",
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("vi"),
    )
    w_ord = Window.partitionBy("event_type").orderBy("ts", "event_id")
    pairs = v.select(
        "event_type",
        F.col("vi").alias("x"),
        F.lag("vi").over(w_ord).alias("y"),
        F.row_number().over(w_ord).alias("idx"),
    ).where(F.col("y").isNotNull())
    w_roll = (
        Window.partitionBy("event_type")
        .orderBy("idx")
        .rowsBetween(-(ROLL_CORR_WINDOW - 1), 0)
    )
    sums = pairs.select(
        "event_type",
        "idx",
        F.count("*").over(w_roll).alias("n"),
        F.sum("x").over(w_roll).alias("sx"),
        F.sum("y").over(w_roll).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w_roll).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w_roll).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w_roll).alias("syy"),
    )
    a = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    bx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    by = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        sums.where(F.col("idx") % ROLL_CORR_EVERY == 0)
        .select(
            "event_type",
            "idx",
            F.col("n").cast("long").alias("n"),
            F.round(
                a.cast("double") / F.sqrt(bx.cast("double") * by.cast("double")),
                6,
            ).alias("autocorr"),
        )
        .orderBy("event_type", "idx")
    )


# ---------------------------------------------- interval merge / union

_IVL_MERGE_ORACLE = """
WITH iv AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS s,
         epoch_us(ts) + CAST(FLOOR(value * 1000000) AS BIGINT) AS e
  FROM events
),
flagged AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN s > COALESCE(
                MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -9223372036854775808)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
merged AS (
  SELECT user_id, island,
         MIN(s) AS island_start, MAX(e) AS island_end
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       COUNT(*) AS n_islands,
       CAST(SUM(island_end - island_start) AS BIGINT) AS covered_us
FROM merged GROUP BY user_id
ORDER BY user_id
"""


@query("win_interval_merge", _IVL_MERGE_ORACLE)
def win_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union of overlapping time intervals [ts, ts+value sec):
    merged-island count and total covered microseconds — the classic
    sessionize/utilization primitive (machine uptime, ad exposure,
    speech-segment coverage).

    Algorithm: running MAX of interval end over start-ordered rows; a
    row whose start exceeds every earlier end opens a new island; island
    ids are a running SUM of those flags; islands reduce to
    (min start, max end).

    Scale: ONE shuffle (hash on user_id for the window); both groupBys
    that follow group by (user_id, …) — a superset of the existing
    hash partitioning — so Catalyst adds no further exchange, and all
    window frames are partition-local running aggregates (no buffering
    beyond one row of state).  All arithmetic is exact BIGINT epoch
    micros: FLOOR before the cast pins Spark (truncating) and DuckDB
    (rounding) double→int semantics to the same value.
    """
    ev = Tables(spark, sf_dir).events
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * 1000000).cast("bigint")
        ).alias("e"),
    )
    w_ord = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = (
        F.max("e").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    )
    flagged = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(
            F.col("s") > F.coalesce(prev_max_e, F.lit(-(2**63))), 1
        ).otherwise(0).alias("new_island"),
    )
    islands = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count("*").alias("n_islands"),
            F.sum(F.col("island_end") - F.col("island_start")).alias(
                "covered_us"
            ),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------- half-life decay score

DECAY_HALF_LIFE_US = 86_400_000_000  # 1 day
# 1e-9 score resolution: vi is 1e-4-fixed, so vi * 1e9 fits int64 for
# |value| up to ~9.2e5 (at which point headroom is ~1x); the comfortable
# 1880x-headroom regime holds for |value| <~ 490, which covers the data
# model's value domain.  The old 1e12 scale sat only 1.9x below int64
# max and a value above ~922 would hard-fail under ANSI mode (round-4
# ADVICE).  The per-user SUM then accumulates in DECIMAL(38,0) so
# event-count growth cannot overflow either.
DECAY_SCALE = 10**9
# The k cap FLOORS the decay factor at 2^-30 for every term; exact
# integer underflow to 0 at k=30 happens only for the smallest vi=1 —
# larger vi keep a small floored contribution (round-5 ADVICE comment
# fix; oracle and Spark apply the identical cap, so parity holds).
DECAY_MAX_K = 30

_DECAY_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vi
  FROM events
),
anchored AS (
  SELECT user_id, vi,
         LEAST((MAX(ts_us) OVER (PARTITION BY user_id) - ts_us)
               // {DECAY_HALF_LIFE_US}, {DECAY_MAX_K}) AS k
  FROM ev
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM((vi * {DECAY_SCALE}) // (1 << CAST(k AS INTEGER)))
            AS BIGINT) AS decayed_score_scaled
FROM anchored
GROUP BY user_id
ORDER BY user_id
"""


@query("win_decay_score", _DECAY_ORACLE)
def win_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed engagement score per user: each event
    contributes value · 2^−⌊Δt/halflife⌋ relative to the user's LATEST
    event — the recency-weighted activity metric (recommendation
    freshness, churn features) — computed ENTIRELY in integers:
    values fix to 1e-4 ints, the decay is a right-shift-equivalent
    integer division by 2^k (k capped where the term underflows the
    1e-9 scale), so both engines sum identical integers in any order —
    the per-row product is bounded 1880x below int64 max for |value|
    up to ~9.2e5, and the sum is widened through DECIMAL(38,0) (the
    _util.py scaled-sum pattern) so row-count growth cannot overflow.
    The usual exp(−λΔt) form is engine-unportable (libm ulp + float
    sum order); the dyadic half-life ladder is the exact stand-in with
    the same decay shape.

    Scale: one shuffle on user_id; the per-user max is a frameless
    window over that partitioning and the final agg reuses it — the
    single-exchange pattern throughout this module.
    """
    ev = Tables(spark, sf_dir).events.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("vi"),
    )
    w = Window.partitionBy("user_id")
    anchored = ev.select(
        "user_id",
        "vi",
        F.least(
            F.expr(
                f"(max(ts_us) OVER (PARTITION BY user_id) - ts_us)"
                f" div {DECAY_HALF_LIFE_US}"
            ),
            F.lit(DECAY_MAX_K).cast("bigint"),
        ).alias("k"),
    )
    return (
        anchored.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.expr(
                    f"CAST((vi * {DECAY_SCALE})"
                    f" div shiftleft(1L, CAST(k AS INT))"
                    f" AS DECIMAL(38,0))"
                )
            )
            .cast("bigint")
            .alias("decayed_score_scaled"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------- z-score standardization

_ZSCORE_ORACLE = """
WITH v AS (
  SELECT event_type, event_id,
         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vi
  FROM events WHERE event_id < 2000
),
stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(vi) AS BIGINT) AS sx,
         CAST(SUM(vi * vi) AS BIGINT) AS sxx
  FROM v GROUP BY event_type
)
SELECT v.event_id, v.event_type,
       ROUND(v.vi / 10000.0, 4) AS value,
       ROUND((v.vi - CAST(s.sx AS DOUBLE) / s.n)
             / sqrt((CAST(s.sxx AS DOUBLE)
                     - CAST(s.sx AS DOUBLE) * s.sx / s.n) / (s.n - 1)),
             6) + 0.0 AS zscore
FROM v JOIN stats s USING (event_type)
ORDER BY v.event_id
"""


def _scaled_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 2000 events as (event_id, event_type, vi): ``value``
    as an exact 1e-4 fixed-point BIGINT, the input of both
    aggregate-then-broadcast feature encoders."""
    return (
        Tables(spark, sf_dir)
        .events.where(F.col("event_id") < 2000)
        .select(
            "event_id",
            "event_type",
            F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("vi"),
        )
    )


@query("win_zscore_features", _ZSCORE_ORACLE)
def win_zscore_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization (x−μ)/σ — the feature-scaling
    staple.  Group moments come from EXACT integer sums (n, Σx, Σx² of
    1e-4-fixed values), so μ and the sample variance assemble from
    identical integers in both engines; the per-row z is then one
    deterministic double expression (sqrt is IEEE correctly-rounded),
    ROUND 6, −0.0 flushed.

    Scale: the moment table is a map-side-combined aggregation (one
    tiny row per group) broadcast back — the big side never shuffles.
    The window-function formulation would shuffle every row; the
    aggregate-then-broadcast-join shape is the 100 TB way to
    standardize features.
    """
    v = _scaled_events(spark, sf_dir)
    stats = v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("vi").cast("long").alias("sx"),
        F.sum(F.col("vi") * F.col("vi")).cast("long").alias("sxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n")
    var = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    ) / (F.col("n") - 1)
    return (
        v.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(F.col("vi") / 10000.0, 4).alias("value"),
            (F.round((F.col("vi") - mu) / F.sqrt(var), 6) + 0.0).alias(
                "zscore"
            ),
        )
        .orderBy("event_id")
    )


# ------------------------------------------- period-over-period change

_POP_ORACLE = """
WITH monthly AS (
  SELECT n.n_name AS nation,
         CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE n.n_regionkey = 1
  GROUP BY 1, 2
)
SELECT nation, month, rev_cents,
       LAG(rev_cents) OVER w AS prev_rev_cents,
       ROUND(CASE WHEN LAG(rev_cents) OVER w IS NULL
                    OR LAG(rev_cents) OVER w = 0 THEN NULL
                  ELSE 100.0 * (rev_cents - LAG(rev_cents) OVER w)
                        / LAG(rev_cents) OVER w END, 4) AS mom_pct
FROM monthly
WINDOW w AS (PARTITION BY nation ORDER BY month)
ORDER BY nation, month
"""


@query("win_period_over_period", _POP_ORACLE)
def win_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue change per nation (region-1 slice) —
    the BI staple: time-grain aggregate, LAG to the prior period,
    percent delta.  Revenue sums in exact integer cents so the
    window's input is engine-identical; the percent is one
    deterministic double expression.

    Scale: the monthly rollup collapses the fact table to
    (nation × month) rows BEFORE any window runs — the LAG operates on
    a metadata-sized frame.  Aggregate-then-window is the order that
    survives 100 TB; window-then-aggregate would shuffle raw rows.
    """
    t = Tables(spark, sf_dir)
    monthly = (
        t.orders.join(
            F.broadcast(
                t.customer.select("c_custkey", "c_nationkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                t.nation.where(F.col("n_regionkey") == 1).select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .agg(
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            )
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w = Window.partitionBy("nation").orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        "nation",
        "month",
        "rev_cents",
        prev.alias("prev_rev_cents"),
        F.round(
            F.when(prev.isNull() | (prev == 0), F.lit(None)).otherwise(
                100.0 * (F.col("rev_cents") - prev) / prev
            ),
            4,
        ).alias("mom_pct"),
    ).orderBy("nation", "month")


# ---------------------------------------------------- maximum drawdown

_DRAWDOWN_ORACLE = """
WITH v AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_id % 2 = 1
              THEN -CAST(floor(value * 10000 + 0.5) AS BIGINT)
              ELSE  CAST(floor(value * 10000 + 0.5) AS BIGINT)
         END AS vi
  FROM events
),
bal AS (
  SELECT user_id, ts, event_id,
         SUM(vi) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS bal
  FROM v
),
peaked AS (
  SELECT user_id, bal,
         MAX(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS peak
  FROM bal
)
SELECT user_id,
       CAST(MAX(peak - bal) AS BIGINT) AS max_drawdown_scaled,
       CAST(MAX(peak) AS BIGINT) AS peak_scaled
FROM peaked
GROUP BY user_id
ORDER BY user_id
"""


@query("win_drawdown_max", _DRAWDOWN_ORACLE)
def win_drawdown_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's cumulative value stream: largest
    peak-to-trough drop of the running balance — the risk metric
    (finance) and regression detector (any monotone KPI) in one shape.
    Events alternate sign by event_id parity (odd = outflow) so the
    balance genuinely rises AND falls — all-positive inputs made every
    drawdown 0 and the parity check vacuous (round-4 ADVICE); the
    signed stream exercises the peak/trough path for real, and
    tests/test_windows_extra.py pins a hand-built nonzero case.
    Exact: values fix to 1e-4 integers, so running sum, running peak,
    and the drawdown max are all BIGINT — engine-identical.

    Scale: ONE shuffle (hash on user_id); the running sum, the running
    peak over it (layered selects — same sort, no re-exchange), and
    the final per-user max are all streaming frames with constant
    state per partition.
    """
    v = Tables(spark, sf_dir).events.select(
        "user_id",
        "ts",
        "event_id",
        F.expr(
            "CASE WHEN event_id % 2 = 1"
            " THEN -CAST(floor(value * 10000 + 0.5) AS BIGINT)"
            " ELSE  CAST(floor(value * 10000 + 0.5) AS BIGINT) END"
        ).alias("vi"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bal = v.select(
        "user_id", "ts", "event_id", F.sum("vi").over(w).alias("bal")
    )
    peaked = bal.select(
        "user_id", "bal", F.max("bal").over(w).alias("peak")
    )
    return (
        peaked.groupBy("user_id")
        .agg(
            F.max(F.col("peak") - F.col("bal"))
            .cast("bigint")
            .alias("max_drawdown_scaled"),
            F.max("peak").cast("bigint").alias("peak_scaled"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------- longest consecutive streak

_STREAK_ORACLE = """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    r AS (
      SELECT user_id,
             CAST(floor(epoch(day) / 86400) AS BIGINT)
             - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM d
    ),
    s AS (
      SELECT user_id, grp, COUNT(*) AS len FROM r GROUP BY user_id, grp
    )
    SELECT user_id,
           MAX(len)::BIGINT   AS longest_streak,
           COUNT(*)::BIGINT   AS n_streaks,
           SUM(len)::BIGINT   AS active_days
    FROM s GROUP BY user_id ORDER BY user_id
"""


@query("win_streak_longest", _STREAK_ORACLE)
def win_streak_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive active days per user — the classic
    gaps-and-islands trick (day − row_number() is constant within a
    consecutive run), the engagement-streak metric next to
    agg_gaps_islands_ranges' value-range flavor.

    Scale: one shuffle on user_id serves the distinct, the window and
    both group-bys (same partitioning reused); within a user the data
    is one row per active day.  Epoch-day arithmetic keeps the group
    key integral — no date-interval types cross the engine boundary.
    """
    t = Tables(spark, sf_dir)
    d = t.events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.select(
        "user_id",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    s = r.groupBy("user_id", "grp").agg(F.count("*").alias("len"))
    return (
        s.groupBy("user_id")
        .agg(
            F.max("len").cast("bigint").alias("longest_streak"),
            F.count("*").cast("bigint").alias("n_streaks"),
            F.sum("len").cast("bigint").alias("active_days"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------- leave-one-out target encoding

_TARGET_ENC_ORACLE = """
WITH v AS (
  SELECT event_id, event_type,
         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vi
  FROM events WHERE event_id < 2000
),
grp AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(vi) AS BIGINT) AS sv
  FROM v GROUP BY event_type
)
SELECT v.event_id, v.event_type,
       ROUND(v.vi / 10000.0, 4) AS value,
       CASE WHEN g.n > 1
            THEN ROUND((CAST(g.sv AS DOUBLE) - v.vi)
                       / (g.n - 1) / 10000.0, 6) + 0.0
       END AS loo_target_mean
FROM v JOIN grp g USING (event_type)
ORDER BY v.event_id
"""


@query("win_target_encoding", _TARGET_ENC_ORACLE)
def win_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each row's categorical feature
    (event_type) becomes the mean target (value) of all OTHER rows in
    its category — the standard high-cardinality categorical encoding
    for gradient-boosted / linear models, leave-one-out so a row never
    leaks its own label into its feature.  Exact: group moments are
    integer sums of 1e-4-fixed values, so (sv − vi)/(n−1) assembles
    from identical integers in both engines; singleton categories
    yield NULL (no other rows to average).

    Scale: the same aggregate-then-broadcast-join shape as
    win_zscore_features — group moments are one map-side-combined agg
    (one tiny row per category) joined back broadcast, so the fact
    side NEVER shuffles; the naive window formulation would shuffle
    every row on the category key and hot-spot on skewed categories.
    """
    v = _scaled_events(spark, sf_dir)
    grp = v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("vi").cast("bigint").alias("sv"),
    )
    loo = F.round(
        (F.col("sv").cast("double") - F.col("vi"))
        / (F.col("n") - 1)
        / 10000.0,
        6,
    ) + F.lit(0.0)
    return (
        v.join(F.broadcast(grp), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(F.col("vi") / 10000.0, 4).alias("value"),
            F.when(F.col("n") > 1, loo).alias("loo_target_mean"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------- rolling median

_ROLLING_MEDIAN_ORACLE = """
WITH l AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         CAST(l_quantity AS DOUBLE) AS qty
  FROM lineitem WHERE l_suppkey <= 2
)
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(qty AS BIGINT) AS qty,
       CAST(2 * quantile_cont(qty, 0.5) OVER (
              PARTITION BY l_suppkey
              ORDER BY l_orderkey, l_linenumber
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS med2
FROM l
ORDER BY l_suppkey, l_orderkey, l_linenumber
"""


@query("win_rolling_median", _ROLLING_MEDIAN_ORACLE)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median (7-row trailing window) of order quantity
    per supplier — the robust-center smoothing that mean-based rolling
    stats (win_running_sum / win_rolling_autocorr) can't provide under
    outliers; the per-key robust baseline an anomaly monitor tracks.

    Spark's ``percentile`` is an exact linearly-interpolated quantile
    and is frame-capable as a window aggregate (probed on 4.1);
    DuckDB's ``quantile_cont`` implements the same interpolation.
    Quantities are integers, so every interpolated median is a
    multiple of 0.5 — emitted as ``2*median`` cast to BIGINT so the
    hash compares integers, never float formatting.

    Scale: one shuffle on the partition key (l_suppkey), then a
    per-partition sort — the canonical window shape.  The 7-row frame
    keeps the per-row state O(frame), not O(partition); a RANGE frame
    over a hot key would be the skew risk, bounded here by the ROWS
    frame.  Filter is pushed to the parquet scan (suppkey <= 2).
    """
    l = (
        Tables(spark, sf_dir)
        .lineitem.where(F.col("l_suppkey") <= 2)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("qty"),
        )
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_orderkey", "l_linenumber")
        .rowsBetween(-6, Window.currentRow)
    )
    return (
        l.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.col("qty").cast("bigint").alias("qty"),
            (2 * F.expr("percentile(qty, 0.5)").over(w))
            .cast("bigint")
            .alias("med2"),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )
