"""As-of and range joins — operators Spark's built-ins don't provide
(SURVEY.md §2.3 notes the reference has none either; these are the
canonical "custom operator as a composition of DataFrame ops" additions).

As-of join (latest right row with rts ≤ lts per key), implemented with
the union+window pattern rather than a per-key merge:

* tag both sides, union them — ONE dataset, ONE shuffle on the key;
* window last_value(ignorenulls) ordered by (ts, tag) carries the most
  recent right-side payload forward onto each left row;
* filter back to left rows.

At 100 TB this beats both the naive inequality join (quadratic per key)
and merge_asof-style applyInPandas (whole key group in one pandas frame):
the window is streaming within each partition, state is one row, and
skewed keys spill gracefully.  DuckDB's native ASOF JOIN is the oracle.

Range join: equality-bucketed — bucket timestamps to the range width,
join on (key, bucket)±1 neighbors, filter the exact predicate.  Candidate
space is O(rows·density) instead of O(rows²) per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kachess_spark.catalog import load_table
from kachess_spark.registry import query

_ASOF_ORACLE = """
    WITH purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    logins AS (
      SELECT user_id, ts, event_id AS login_event_id FROM events
      WHERE event_type = 'login'
    )
    SELECT p.event_id, p.user_id,
           floor(epoch(p.ts))::BIGINT AS purchase_epoch,
           l.login_event_id,
           (floor(epoch(p.ts)) - floor(epoch(l.ts)))::BIGINT AS secs_since_login
    FROM purchases p
    ASOF LEFT JOIN logins l
      ON p.user_id = l.user_id AND p.ts >= l.ts
    ORDER BY p.event_id
"""


def _asof_carried(ev: DataFrame) -> DataFrame:
    """The purchase rows of ``ev``, each carrying the user's latest login
    at-or-before it (``asof_login_id``, ``asof_login_ts``): the one
    union+window as-of step of both as-of joins."""
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.lit(1).alias("tag"),
        F.lit(None).cast("bigint").alias("login_event_id"),
        F.lit(None).cast("timestamp").alias("login_ts"),
    )
    right = ev.where(F.col("event_type") == "login").select(
        F.lit(None).cast("bigint").alias("event_id"),
        "user_id", "ts",
        F.lit(0).alias("tag"),
        F.col("event_id").alias("login_event_id"),
        F.col("ts").alias("login_ts"),
    )
    # right rows sort before left at equal ts → ASOF '>=' tie semantics
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "login_event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        left.unionByName(right)
        .withColumn(
            "asof_login_id", F.last("login_event_id", ignorenulls=True).over(w)
        )
        .withColumn(
            "asof_login_ts", F.last("login_ts", ignorenulls=True).over(w)
        )
        .where(F.col("tag") == 1)
    )


@query("join_asof_events", _ASOF_ORACLE)
def join_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the user's most recent login at-or-before it.

    Union+window as-of join; ties (same ts) resolve to the right side
    being visible, matching ASOF's `>=` semantics (tag orders right rows
    first within equal timestamps)."""
    carried = _asof_carried(load_table(spark, sf_dir, "events"))
    return (
        carried.select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("purchase_epoch"),
            F.col("asof_login_id").alias("login_event_id"),
            (F.unix_timestamp("ts") - F.unix_timestamp("asof_login_ts"))
            .cast("bigint")
            .alias("secs_since_login"),
        )
        .orderBy("event_id")
    )


_RANGE_WIDTH = 300  # seconds

_RANGE_ORACLE = f"""
    WITH e AS (
      SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS sec, event_type
      FROM events
    )
    SELECT a.event_id AS ev_a, b.event_id AS ev_b,
           (b.sec - a.sec) AS gap_secs
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND a.event_type = 'error' AND b.event_type = 'purchase'
     AND b.sec >= a.sec AND b.sec - a.sec <= {_RANGE_WIDTH}
    ORDER BY ev_a, ev_b
"""


@query("join_range_events", _RANGE_ORACLE)
def join_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases within 5 minutes after an error, same user — a banded
    range join via time-bucket equality + neighbor buckets + exact filter.

    The equality key (user_id, bucket) lets Spark hash-join; only
    same-or-adjacent buckets ever meet, so candidates are bounded by
    local event density, not the full per-user cross product."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "event_type",
        F.unix_timestamp("ts").alias("sec"),
    )
    errors = base.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("ev_a"),
        "user_id",
        F.col("sec").alias("sec_a"),
        F.floor(F.col("sec") / _RANGE_WIDTH).alias("bucket_a"),
    )
    purchases = (
        base.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("ev_b"),
            "user_id",
            F.col("sec").alias("sec_b"),
            F.explode(
                F.array(
                    F.floor(F.col("sec") / _RANGE_WIDTH) - 1,
                    F.floor(F.col("sec") / _RANGE_WIDTH),
                )
            ).alias("bucket_a"),
        )
    )
    return (
        errors.join(purchases, ["user_id", "bucket_a"])
        .where(
            (F.col("sec_b") >= F.col("sec_a"))
            & (F.col("sec_b") - F.col("sec_a") <= _RANGE_WIDTH)
        )
        .select(
            "ev_a", "ev_b", (F.col("sec_b") - F.col("sec_a")).alias("gap_secs")
        )
        .distinct()
        .orderBy("ev_a", "ev_b")
    )


# ------------------------------------------- interval-overlap join

_IVL_MIN = 1800  # 30-minute intervals on a 30-minute chunk grid

_OVERLAP_ORACLE = f"""
    WITH a AS (
      -- whole-second grid on both engines (Spark truncates via
      -- unix_timestamp; sub-second fractions would skew overlaps by 1s)
      SELECT event_id, user_id, date_trunc('second', ts) AS ts,
             date_trunc('second', ts) + INTERVAL 30 MINUTE AS te
      FROM events WHERE event_type = 'purchase'
    ),
    b AS (
      SELECT event_id, user_id, date_trunc('second', ts) AS ts,
             date_trunc('second', ts) + INTERVAL 30 MINUTE AS te
      FROM events WHERE event_type = 'click'
    )
    SELECT a.event_id AS a_event, b.event_id AS b_event,
           a.user_id AS user_id,
           (epoch(LEAST(a.te, b.te)) - epoch(GREATEST(a.ts, b.ts)))::BIGINT
             AS overlap_s
    FROM a JOIN b
      ON a.user_id = b.user_id AND a.ts <= b.te AND b.ts <= a.te
    ORDER BY a_event, b_event
"""


@query("join_interval_overlap", _OVERLAP_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: purchase activity windows × click activity
    windows (30 min each) of the same user that overlap in time, with
    the overlap length — the interval-intersection primitive behind
    session stitching, ad attribution, and span conflict detection.

    Scale: a naive theta join (a.start ≤ b.end AND b.start ≤ a.end) is
    a per-user cross product.  Overlapping intervals must share a
    30-minute grid chunk, so both sides explode to their covered chunks
    (≤2 each here; ⌈len/chunk⌉+1 in general), the join is an EQUALITY
    join on (user, chunk) — shuffle-hashable, AQE-skew-splittable —
    and the exact overlap predicate verifies the candidates; distinct
    removes the ≤2 duplicate hits of pairs spanning a chunk boundary.
    Same candidate-then-verify shape as the as-of/range joins above.
    """
    ev = load_table(spark, sf_dir, "events")

    def side(kind: str, prefix: str) -> DataFrame:
        sec = F.unix_timestamp("ts").cast("long")
        return (
            ev.where(F.col("event_type") == kind)
            .select(
                F.col("event_id").alias(f"{prefix}_event"),
                F.col("user_id").alias(f"{prefix}_user"),
                sec.alias(f"{prefix}_s"),
                (sec + _IVL_MIN).alias(f"{prefix}_e"),
            )
            .withColumn(
                "chunk",
                F.explode(
                    F.expr(
                        f"sequence({prefix}_s div {_IVL_MIN},"
                        f" {prefix}_e div {_IVL_MIN})"
                    )
                ),
            )
        )
    a, b = side("purchase", "a"), side("click", "b")
    overlap = (
        F.least(F.col("a_e"), F.col("b_e"))
        - F.greatest(F.col("a_s"), F.col("b_s"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a_user") == F.col("b_user"))
            & (a["chunk"] == b["chunk"]),
        )
        .where(
            (F.col("a_s") <= F.col("b_e")) & (F.col("b_s") <= F.col("a_e"))
        )
        .select(
            "a_event",
            "b_event",
            F.col("a_user").alias("user_id"),
            overlap.alias("overlap_s"),
        )
        .distinct()
        .orderBy("a_event", "b_event")
    )


# --------------------------------------------------- nearest as-of join

_NEAREST_ORACLE = """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    logins AS (
      SELECT user_id, ts, event_id AS login_event_id FROM events
      WHERE event_type = 'login'
    ),
    back AS (
      SELECT p.event_id, p.user_id, l.login_event_id AS bid,
             epoch_us(p.ts) - epoch_us(l.ts) AS bgap
      FROM purchases p
      ASOF LEFT JOIN logins l ON p.user_id = l.user_id AND p.ts >= l.ts
    ),
    fwd AS (
      SELECT p.event_id, l.login_event_id AS fid,
             epoch_us(l.ts) - epoch_us(p.ts) AS fgap
      FROM purchases p
      ASOF LEFT JOIN logins l ON p.user_id = l.user_id AND p.ts < l.ts
    )
    SELECT b.event_id, b.user_id,
           CASE WHEN b.bid IS NULL THEN f.fid
                WHEN f.fid IS NULL THEN b.bid
                WHEN b.bgap <= f.fgap THEN b.bid ELSE f.fid END
             AS nearest_login_id,
           CASE WHEN b.bid IS NULL THEN f.fgap
                WHEN f.fid IS NULL THEN -b.bgap
                WHEN b.bgap <= f.fgap THEN -b.bgap ELSE f.fgap END
             AS signed_gap_us
    FROM back b JOIN fwd f USING (event_id)
    ORDER BY b.event_id
"""


@query("join_asof_nearest", _NEAREST_ORACLE)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join: for every purchase, the user's login
    closest in EITHER direction (sensor alignment / entity-resolution
    matching; pandas merge_asof(direction='nearest'), which Spark has no
    native operator for).  Ties (equidistant before/after) resolve to
    the earlier login; a login at the exact purchase instant counts as
    at-or-before.  signed_gap_us < 0 means the login preceded.

    Plan: union+window twice over ONE hashpartitioning(user_id)
    exchange — a backward carry (last login at-or-before, ascending
    order) and a forward carry (first login strictly-after, descending
    order).  Both windows stream with one row of state; the second sort
    is partition-local, no second shuffle.  The oracle is DuckDB's
    native ASOF in each direction plus the same tie CASE — an
    independent implementation, not an echo of the window algorithm.
    """
    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("bigint").alias("login_event_id"),
    )
    right = ev.where(F.col("event_type") == "login").select(
        F.lit(None).cast("bigint").alias("event_id"),
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.lit(0).alias("tag"),
        F.col("event_id").alias("login_event_id"),
    )
    both = left.unionByName(right)
    # backward: logins at equal ts visible (tag 0 sorts first ascending)
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "tag", "login_event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward: descending traversal; purchases (tag 1) sort before
    # equal-ts logins so those logins stay invisible → strictly-after
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts_us"), F.desc("tag"), F.col("login_event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        both.withColumn(
            "bid", F.last("login_event_id", ignorenulls=True).over(w_back)
        )
        .withColumn(
            "b_ts", F.last(F.when(F.col("tag") == 0, F.col("ts_us")), ignorenulls=True).over(w_back)
        )
        .withColumn(
            "fid", F.last("login_event_id", ignorenulls=True).over(w_fwd)
        )
        .withColumn(
            "f_ts", F.last(F.when(F.col("tag") == 0, F.col("ts_us")), ignorenulls=True).over(w_fwd)
        )
    )
    bgap = F.col("ts_us") - F.col("b_ts")
    fgap = F.col("f_ts") - F.col("ts_us")
    pick_back = F.col("fid").isNull() | (
        F.col("bid").isNotNull() & (bgap <= fgap)
    )
    return (
        carried.where(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            F.when(pick_back, F.col("bid"))
            .otherwise(F.col("fid"))
            .alias("nearest_login_id"),
            F.when(pick_back & F.col("bid").isNotNull(), -bgap)
            .otherwise(fgap)
            .alias("signed_gap_us"),
        )
        .orderBy("event_id")
    )


# ------------------------------------------- as-of join with tolerance

ASOF_TOLERANCE_S = 3600  # matches farther back than 1h are discarded

_ASOF_TOL_ORACLE = f"""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    logins AS (
      SELECT user_id, ts, event_id AS login_event_id FROM events
      WHERE event_type = 'login'
    ),
    matched AS (
      SELECT p.event_id, p.user_id, l.login_event_id,
             floor(epoch(p.ts)) - floor(epoch(l.ts)) AS gap_s
      FROM purchases p
      ASOF LEFT JOIN logins l
        ON p.user_id = l.user_id AND p.ts >= l.ts
    )
    SELECT event_id, user_id,
           CASE WHEN gap_s <= {ASOF_TOLERANCE_S}
                THEN login_event_id END AS login_event_id,
           CAST(CASE WHEN gap_s <= {ASOF_TOLERANCE_S}
                THEN gap_s END AS BIGINT) AS secs_since_login
    FROM matched
    ORDER BY event_id
"""


@query("join_asof_tolerance", _ASOF_TOL_ORACLE)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match tolerance (pandas merge_asof's
    ``tolerance=``): the most recent login at-or-before each purchase,
    but matches staler than {ASOF_TOLERANCE_S}s are discarded to NULL —
    the freshness contract sensor fusion and feature-store lookups
    need (a day-old "latest" feature is usually worse than none).

    Same union+window single-shuffle plan as join_asof_events; the
    tolerance is a post-carry filter, so it adds zero shuffle and the
    carried state stays one row.  The oracle is DuckDB's native ASOF
    plus the same staleness CASE.
    """
    carried = _asof_carried(load_table(spark, sf_dir, "events"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp("asof_login_ts")
    fresh = gap <= ASOF_TOLERANCE_S
    return (
        carried.select(
            "event_id",
            "user_id",
            F.when(fresh, F.col("asof_login_id")).alias("login_event_id"),
            F.when(fresh, gap).cast("bigint").alias("secs_since_login"),
        )
        .orderBy("event_id")
    )
