"""Windowed event aggregations — batch twins + streaming paths.

Each batch/stream pair runs ONE transformation, written once in this
module as a private body (``_tumbling``, ``_sliding``, ``_enrich``,
``_trending_counts`` + ``_top_trending``, ``_interval_join``; the
per-key folds ``_running_totals`` and ``_ewma_update`` are pure pandas):

* the **batch** twin applies the body to the static ``events`` table
  (``load_table``) and adds its ``orderBy``; it is registered in the
  driver contract with a DuckDB oracle (epoch-bucket arithmetic
  reproduces ``F.window``'s epoch-aligned assignment exactly);
* the **streaming** twin applies the same body to the watermarked file
  stream (``stream_events``, whose ``ts`` goes through the batch table's
  own rule, ``catalog._events_ts``), exercised by tests with
  ``trigger(availableNow=True)``; the ``foreachBatch`` runners (upsert,
  trending rank, ingest gate) all drain through ``_drain``.

Written twice on purpose: session windows (the batch twin is
gaps-and-islands so its session keys are ordinals; the stream uses the
native ``session_window`` state machine), the dedup counts (a DISTINCT
on one side, a watermarked ``dropDuplicates`` on the other) and the
upsert (the stream merges scaled decimals into a versioned table).

Scale design: watermarks bound state (without one, a windowed streaming agg
keeps every window open forever — the 100 TB failure mode); state lives in
the HDFS/RocksDB state store keyed by (window, group) so a 1000-executor
job partitions it by the same shuffle hash as the batch plan; session
windows additionally key state by user_id, and the custom stateful
operators use ``applyInPandasWithState`` with an event-time timeout so
abandoned keys are evicted (``_per_user_state``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kachess_spark.catalog import _events_ts, barrier, load_table, table_path
from kachess_spark.operators._util import davg, dsum, oracle_dsum
from kachess_spark.registry import query


def _file_stream(
    spark: SparkSession, sf_dir: str, name: str, schema: str
) -> DataFrame:
    """Table ``name`` of ``sf_dir`` as an unbounded source, one file per
    trigger.  Each table is a single parquet file and FileStreamSource
    watches a directory, so the stream reads the sf dir with a glob
    pinned to that file; in production this is the same call with a
    Kafka/Kinesis format string — everything downstream is identical."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` as an unbounded source, ``ts`` normalized by the batch
    table's rule."""

    def read() -> DataFrame:
        # the raw ts type depends on the Spark build (see _events_ts):
        # probe the batch reader's view (one footer read) and mirror it
        # in the stream schema
        ts = spark.read.parquet(table_path(sf_dir, "events")).schema["ts"]
        schema = (
            f"event_id BIGINT, ts {ts.dataType.simpleString()}, user_id BIGINT,"
            " event_type STRING, value DOUBLE, props STRING"
        )
        return _file_stream(spark, sf_dir, "events", schema)

    return _events_ts(spark, read)


def _watermarked(ev: DataFrame) -> DataFrame:
    return ev.withWatermark("ts", "2 hours")


def _drain(stream: DataFrame, fn, checkpoint: str, mode: str = "append") -> None:
    """Run ``fn(batch_df, batch_id)`` on every micro-batch of ``stream``
    (``foreachBatch``, checkpointed at ``checkpoint``) until the
    availableNow backlog is drained.  availableNow drains a bounded
    backlog; still running after 120 s means something is wedged —
    reading the sink then would return a silently partial table — so
    the query is stopped and ``TimeoutError`` raised."""
    q = (
        stream.writeStream.foreachBatch(fn)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("streaming query did not drain within 120s")


# ------------------------------------------------------------------ batch
# twins (oracle-checked).  F.window assigns epoch-aligned buckets; the
# oracles reproduce that with epoch()/floor arithmetic so both engines
# compute identical window_start values.

_TUMBLING_ORACLE = f"""
SELECT
  (floor(epoch(ts) / 3600) * 3600)::BIGINT AS window_epoch,
  event_type,
  count(*) AS cnt,
  {oracle_dsum("value", "sum_value")}
FROM events
GROUP BY 1, 2
ORDER BY window_epoch, event_type
"""


def _tumbling(ev: DataFrame) -> DataFrame:
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), dsum("value", "sum_value"))
        .select(
            F.unix_timestamp("w.start").alias("window_epoch"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@query("stream_tumbling_counts", _TUMBLING_ORACLE)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows: count + sum per event_type."""
    ev = load_table(spark, sf_dir, "events")
    return _tumbling(ev).orderBy("window_epoch", "event_type")


# sliding(1h, 30m): every event lands in exactly 2 windows — the 30-min
# bucket it falls in and the previous one; the UNION reproduces that.
_SLIDING_ORACLE = """
WITH buckets AS (
  SELECT (floor(epoch(ts) / 1800) * 1800)::BIGINT AS window_epoch,
         value FROM events
  UNION ALL
  SELECT (floor(epoch(ts) / 1800) * 1800 - 1800)::BIGINT,
         value FROM events
)
SELECT window_epoch,
       count(*) AS cnt,
       ROUND(CAST(SUM(CAST(floor((value) * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000 / COUNT(value), 6) AS avg_value
FROM buckets
GROUP BY 1
ORDER BY 1
"""


def _sliding(ev: DataFrame) -> DataFrame:
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"), davg("value", "avg_value"))
        .select(F.unix_timestamp("w.start").alias("window_epoch"), "cnt", "avg_value")
    )


@query("stream_sliding_avg", _SLIDING_ORACLE)
def sliding_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes: volume + average value."""
    ev = load_table(spark, sf_dir, "events")
    return _sliding(ev).orderBy("window_epoch")


# session windows (30-min gap) = classic gaps-and-islands: a new session
# starts where the gap from the previous event exceeds the timeout.
_SESSION_ORACLE = f"""
WITH marked AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch(ts) - epoch(
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           ) > 1800 OR
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS is_new
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         )::BIGINT AS session_no
  FROM marked
)
SELECT user_id, session_no, count(*) AS n_events,
       {oracle_dsum("value", "session_value")}
FROM sessions
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("stream_session_stats", _SESSION_ORACLE)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session stats with a 30-minute inactivity gap.

    Batch twin uses the same gaps-and-islands plan as the oracle (two
    window functions, one shuffle on user_id) rather than
    ``F.session_window`` so the output keys (ordinal session numbers) are
    comparable; the streaming path uses the native ``session_window``
    state machine."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            # microseconds, not unix_timestamp's whole seconds: a gap in
            # (1800, 1801) s starts a session, as epoch(ts) does in SQL
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 1800 * 10**6),
            1,
        ).otherwise(0),
    )
    wcum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = marked.withColumn(
        "session_no", F.sum("is_new").over(wcum).cast("bigint")
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(F.count("*").alias("n_events"), dsum("value", "session_value"))
        .orderBy("user_id", "session_no")
    )


# -------------------------------------------------------------- streaming
# paths (the batch bodies over the watermarked event stream; tested with
# availableNow + memory sink)


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tumbling(_watermarked(stream_events(spark, sf_dir)))


def streaming_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sliding(_watermarked(stream_events(spark, sf_dir)))


def streaming_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window state machine (30-min gap) per user."""
    return (
        _watermarked(stream_events(spark, sf_dir))
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", "session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


_STATE_SCHEMA = "total_events BIGINT, total_value DOUBLE"
_OUT_SCHEMA = "user_id BIGINT, total_events BIGINT, total_value DOUBLE"


def _running_totals(user_id, totals: tuple, pdfs):
    """Fold pandas batches of one user's events into the running totals
    ``(total_events, total_value)``: returns the new state and its one
    output row (``_OUT_SCHEMA``).  The fold of
    ``streaming_user_running_totals``."""
    import pandas as pd

    total_events, total_value = totals
    for pdf in pdfs:
        total_events += len(pdf)
        total_value += float(pdf["value"].fillna(0.0).sum())
    row = pd.DataFrame(
        {
            "user_id": [user_id],
            "total_events": [total_events],
            "total_value": [total_value],
        }
    )
    return (total_events, total_value), row


_IDLE_MS = 24 * 3600 * 1000  # event time a user may idle before eviction


def _per_user_state(
    ev: DataFrame, fold, empty: tuple, out_schema: str, state_schema: str
) -> DataFrame:
    """``applyInPandasWithState`` per user over the watermarked ``ev``:
    ``fold(user_id, state, pdfs) -> (state, row)`` folds each call's
    pandas batches into the user's state (``empty`` when the user has
    none) and emits its row.

    An EVENT-time timeout evicts idle users so state can't grow
    unboundedly: it fires once the watermark passes the user's newest
    event + 24 h, and the timed-out call only removes the state.  A
    processing-time timeout would ask for another no-data batch after
    every batch, so an availableNow query never drains."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        pdfs = list(pdfs)
        new, row = fold(key[0], state.get if state.exists else empty, pdfs)
        state.update(new)
        newest = max(int(p["ts"].max().timestamp() * 1000) for p in pdfs)
        state.setTimeoutTimestamp(
            max(newest, state.getCurrentWatermarkMs()) + _IDLE_MS
        )
        yield row

    return _watermarked(ev).groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user running totals via
    ``applyInPandasWithState`` (SURVEY.md §2.9 mapping for operators Spark's
    built-ins can't express).  State is one row per user, evicted after
    24 h of event-time idleness (``_per_user_state``)."""
    return _per_user_state(
        stream_events(spark, sf_dir),
        _running_totals,
        (0, 0.0),
        _OUT_SCHEMA,
        _STATE_SCHEMA,
    )


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: first event per (user_id, event_type)
    within the watermark horizon survives (dropDuplicatesWithinWatermark
    — state expires with the watermark, so the dedup map can't grow
    unboundedly the way a plain dropDuplicates on a stream would)."""
    ev = stream_events(spark, sf_dir)
    return (
        ev.withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_id", "user_id", "event_type")
    )


# -------------------------------------------------- stream-static join

_STATIC_ENRICH_ORACLE = f"""
SELECT c.c_mktsegment AS segment,
       count(*) AS n_events,
       {oracle_dsum("e.value", "seg_value")}
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY 1
ORDER BY segment
"""


def _enrich(spark: SparkSession, sf_dir: str, ev: DataFrame) -> DataFrame:
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_events"), dsum("value", "seg_value"))
    )


@query("stream_static_enrich", _STATIC_ENRICH_ORACLE)
def static_enrich_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join: purchases joined
    to the customer dimension, revenue per segment."""
    ev = load_table(spark, sf_dir, "events")
    return _enrich(spark, sf_dir, ev).orderBy("segment")


def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch of the event stream joins the
    static dimension — Spark re-plans the join per batch, so the dim may
    even change between batches (slowly-changing enrich).  The static
    side is broadcast: no state store, no shuffle of the stream."""
    return _enrich(spark, sf_dir, stream_events(spark, sf_dir))


# -------------------------------------------------- stream-stream join

_INTERVAL_JOIN_ORACLE = """
SELECT p.event_id AS purchase_id, l.event_id AS click_id, p.user_id,
       (floor(epoch(p.ts)) - floor(epoch(l.ts)))::BIGINT AS secs_after_click
FROM events p JOIN events l
  ON p.user_id = l.user_id
 AND p.event_type = 'purchase' AND l.event_type = 'click'
 AND p.ts >= l.ts AND p.ts < l.ts + INTERVAL 1 HOUR
ORDER BY purchase_id, click_id
"""


def _interval_join(ev: DataFrame, outer: bool, side=lambda df: df) -> DataFrame:
    """Purchases and same-user clicks of the preceding hour
    (``p.user_id = l.user_id AND l.ts <= p.ts < l.ts + 1 h``): one row
    per (purchase, click) pair, or with ``outer`` every click LEFT OUTER
    its purchases.  ``side`` applies to each filtered side before the
    join — the streaming twins watermark each side there, so each side's
    watermark follows its own event type."""
    p = side(ev.where(F.col("event_type") == "purchase")).alias("p")
    l = side(ev.where(F.col("event_type") == "click")).alias("l")
    on = (
        (F.col("p.user_id") == F.col("l.user_id"))
        & (F.col("p.ts") >= F.col("l.ts"))
        & (F.col("p.ts") < F.col("l.ts") + F.expr("INTERVAL 1 HOUR"))
    )
    secs = F.unix_timestamp("p.ts") - F.unix_timestamp("l.ts")
    if outer:
        return l.join(p, on, "left_outer").select(
            F.col("l.event_id").alias("click_id"),
            F.col("p.event_id").alias("purchase_id"),
            F.col("l.user_id").alias("user_id"),
            secs.alias("secs_to_purchase"),
        )
    return p.join(l, on).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("l.event_id").alias("click_id"),
        F.col("p.user_id").alias("user_id"),
        secs.alias("secs_after_click"),
    )


@query("stream_interval_join", _INTERVAL_JOIN_ORACLE)
def interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join: purchases matched
    to same-user clicks in the preceding hour."""
    ev = load_table(spark, sf_dir, "events")
    return _interval_join(ev, outer=False).orderBy("purchase_id", "click_id")


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join with watermarks: both sides carry a watermark
    and the join condition is time-bounded, so each side's state store
    holds only one hour (+watermark slack) of rows — the bounded-state
    requirement for joining two infinite streams (SURVEY.md §2.9)."""
    ev = stream_events(spark, sf_dir)
    return _interval_join(ev, outer=False, side=_watermarked)


# ------------------------------------------------------- foreachBatch sink

_UPSERT_TOTALS_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       CAST(SUM(CAST(floor((value) * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
         / 10000 AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@query("stream_upsert_totals", _UPSERT_TOTALS_ORACLE)
def upsert_totals_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the foreachBatch upsert: the serving table's final
    state (per-user event count + exact total) computed in one batch
    aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .orderBy("user_id")
    )


def streaming_foreach_batch_upsert(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
    state_root: str | None = None,
) -> DataFrame:
    """``foreachBatch`` incremental upsert: each microbatch pre-aggregates
    its rows, then merges (full-outer, sums combine) into a parquet
    serving table — the streaming MERGE pattern for sinks without
    transactional streaming support.

    Scale design: the microbatch is aggregated BEFORE the merge join
    (delta is ≤#distinct-users rows, not #events); the serving table
    rewrite is versioned (write new, swap pointer) so readers never see
    a partial overwrite — on Delta/Iceberg this whole function is
    ``MERGE INTO`` with the same delta plan.

    Exactly-once across restarts: batch N's merge reads the serving
    state from the NEWEST VERSION WITH ID < N — never from the
    ``current`` pointer — so a replayed microbatch (offset log behind
    the sink at crash time) recomputes v{N} from the same v{N-1} it
    read the first time and swaps in an identical table, instead of
    double-merging its own output.  Counts and fixed-point sums are
    associative, so batch boundaries may differ across runs without
    changing the final state.  tests/test_streaming.py restarts the
    query mid-stream and asserts the final table equals the batch twin.

    ``source`` overrides the default file stream; passing
    ``state_root`` resumes an existing serving dir + checkpoint instead
    of starting fresh (the restart path).

    Returns the final serving-table DataFrame (compare to
    ``stream_upsert_totals``).
    """
    import re
    import shutil

    from kachess_spark.operators._util import money
    from kachess_spark.operators.sinks import _scratch

    if state_root is None:
        state_root = _scratch("upsert_serving")
        shutil.rmtree(state_root, ignore_errors=True)
    os.makedirs(state_root, exist_ok=True)
    current = os.path.join(state_root, "current")

    def _state_version_before(batch_id: int) -> str | None:
        ids = [
            int(m.group(1))
            for m in (
                re.fullmatch(r"v(\d+)", d) for d in os.listdir(state_root)
            )
            if m and int(m.group(1)) < batch_id
        ]
        return os.path.join(state_root, f"v{max(ids)}") if ids else None

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy("user_id").agg(
            F.count("*").alias("d_events"),
            F.sum(money("value").cast("decimal(38,0)")).alias("d_scaled"),
        )
        sp = batch_df.sparkSession
        prev = _state_version_before(batch_id)
        if prev is not None:
            state = sp.read.parquet(prev).select(
                F.col("user_id").alias("s_user"), "n_events", "scaled"
            )
            merged = (
                delta.join(state, delta.user_id == state.s_user, "full_outer")
                .select(
                    F.coalesce(delta.user_id, state.s_user).alias("user_id"),
                    (
                        F.coalesce(F.col("d_events"), F.lit(0))
                        + F.coalesce(F.col("n_events"), F.lit(0))
                    ).alias("n_events"),
                    (
                        F.coalesce(F.col("d_scaled"), F.lit(0))
                        + F.coalesce(F.col("scaled"), F.lit(0))
                    ).alias("scaled"),
                )
            )
        else:
            merged = delta.select(
                "user_id",
                F.col("d_events").alias("n_events"),
                F.col("d_scaled").alias("scaled"),
            )
        version = os.path.join(state_root, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(version)
        # atomic-ish pointer swap: replace the 'current' symlink target
        tmp_link = current + ".tmp"
        if os.path.islink(tmp_link) or os.path.exists(tmp_link):
            os.remove(tmp_link)
        os.symlink(version, tmp_link)
        os.replace(tmp_link, current)
        # Prune old versions: keep v{batch_id} and the immediately-previous
        # version (a crash-replay of THIS batch re-reads it); everything
        # older is unreachable.  Without this, a long availableNow backlog
        # (one file per microbatch) grows the scratch dir as
        # O(batches x table size).
        keep = {os.path.basename(version)}
        if prev is not None:
            keep.add(os.path.basename(prev))
        for d in os.listdir(state_root):
            if re.fullmatch(r"v(\d+)", d) and d not in keep:
                shutil.rmtree(os.path.join(state_root, d), ignore_errors=True)

    ev = source if source is not None else stream_events(spark, sf_dir)
    _drain(ev, merge_batch, os.path.join(state_root, "_chk"))
    return (
        spark.read.parquet(current)
        .select(
            "user_id",
            "n_events",
            (F.col("scaled").cast("double") / 10000).alias("total_value"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------------------ resample + gap fill

_RESAMPLE_ORACLE = """
    WITH bounds AS (
      SELECT CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('day', max(ts)) AS TIMESTAMP) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
      FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             count(*) AS n
      FROM events WHERE event_type IN ('signup', 'purchase')
      GROUP BY event_type, day
    )
    SELECT t.event_type, s.day, COALESCE(a.n, 0) AS n_events
    FROM spine s
    CROSS JOIN (SELECT event_type FROM types
                WHERE event_type IN ('signup', 'purchase')) t
    LEFT JOIN actual a ON a.event_type = t.event_type AND a.day = s.day
    ORDER BY t.event_type, s.day
"""


@query("ts_resample_gapfill", _RESAMPLE_ORACLE)
def ts_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to a dense daily grid: bucket counts joined
    onto a generated (day × series) spine so silent days appear as
    explicit zeros — the shape every downstream rate/anomaly model
    needs (a missing row and a zero are different facts).

    Scale plan: the spine is sequence()-generated ON the cluster
    (#days × #series rows — tiny) and broadcast against the aggregated
    actuals, never against raw events; the raw side is one
    bucket-count aggregation.
    """
    ev = load_table(spark, sf_dir, "events")
    kinds = ("signup", "purchase")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.expr("sequence(lo, hi, interval 1 day)")
        ).alias("day")
    )
    types = (
        ev.where(F.col("event_type").isin(*kinds))
        .select("event_type")
        .distinct()
    )
    actual = (
        ev.where(F.col("event_type").isin(*kinds))
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    return (
        spine.crossJoin(F.broadcast(types))
        .join(F.broadcast(actual), ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        )
        .orderBy("event_type", "day")
    )


# ------------------------------------------------------ trending top-k

_TRENDING_K = 3

_TRENDING_ORACLE = f"""
SELECT window_epoch, event_type, cnt, rk FROM (
  SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS window_epoch,
         event_type, count(*) AS cnt,
         ROW_NUMBER() OVER (
           PARTITION BY (floor(epoch(ts) / 3600) * 3600)::BIGINT
           ORDER BY count(*) DESC, event_type) AS rk
  FROM events
  GROUP BY 1, 2
)
WHERE rk <= {_TRENDING_K}
ORDER BY window_epoch, rk
"""


def _trending_counts(ev: DataFrame) -> DataFrame:
    return ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("cnt"))


def _top_trending(counts: DataFrame) -> DataFrame:
    """The per-window rank: the top ``_TRENDING_K`` event types of each
    window by count, ties to the lower event_type."""
    w = Window.partitionBy("w").orderBy(F.col("cnt").desc(), "event_type")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TRENDING_K)
        .select(
            F.unix_timestamp("w.start").alias("window_epoch"),
            "event_type",
            "cnt",
            "rk",
        )
    )


@query("stream_trending_topk", _TRENDING_ORACLE)
def trending_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming trending detection: per 1-hour window,
    the top-{_TRENDING_K} event types by count (deterministic tiebreak
    on event_type).  One windowed aggregation, then a per-window rank —
    the rank's partition is the window key, so its shuffle reuses the
    aggregation's partitioning."""
    ev = load_table(spark, sf_dir, "events")
    return _top_trending(_trending_counts(ev)).orderBy("window_epoch", "rk")


def streaming_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending: the windowed counts run as a watermarked
    streaming aggregation (bounded state); the per-window rank — not
    expressible inside a streaming query — applies in ``foreachBatch``
    over each emitted batch of finalized windows, the standard
    two-stage trending-detector shape.  Returns the final ranked table
    (compare to ``stream_trending_topk``)."""
    import shutil

    from kachess_spark.operators.sinks import _scratch

    out_root = _scratch("trending_topk")
    shutil.rmtree(out_root, ignore_errors=True)
    os.makedirs(out_root, exist_ok=True)
    out_dir = os.path.join(out_root, "data")

    def rank_batch(batch_df: DataFrame, batch_id: int) -> None:
        _top_trending(batch_df).write.mode("append").parquet(out_dir)

    counts = _trending_counts(_watermarked(stream_events(spark, sf_dir)))
    _drain(counts, rank_batch, os.path.join(out_root, "_chk"), "complete")
    return spark.read.parquet(out_dir).orderBy("window_epoch", "rk")


# ------------------------------------- streaming dedup → windowed agg

_DEDUP_COUNTS_ORACLE = """
WITH dedup AS (
  SELECT DISTINCT (floor(epoch(ts) / 60) * 60)::BIGINT AS minute_epoch,
         user_id, event_type
  FROM events
)
SELECT (floor(minute_epoch / 3600.0) * 3600)::BIGINT AS window_epoch,
       event_type,
       count(*) AS n_unique
FROM dedup
GROUP BY 1, 2
ORDER BY window_epoch, event_type
"""


@query("stream_dedup_counts", _DEDUP_COUNTS_ORACLE)
def dedup_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the at-least-once ingestion dedup: collapse
    duplicate deliveries to one row per (user, event_type, minute),
    then count survivors per 1-hour window — the dedup-then-aggregate
    shape every event pipeline runs in front of its rollups.

    Scale: the DISTINCT and the window count share the same hash
    partitioning family (minute determines hour), so AQE coalesces the
    second shuffle to a near-no-op; dedup state in the streaming twin
    below is bounded by the watermark horizon instead of growing with
    the stream.
    """
    ev = load_table(spark, sf_dir, "events")
    minute = (F.floor(F.unix_timestamp("ts") / 60) * 60).cast("long")
    return (
        ev.select(minute.alias("minute_epoch"), "user_id", "event_type")
        .distinct()
        .groupBy(
            (F.floor(F.col("minute_epoch") / 3600) * 3600)
            .cast("long")
            .alias("window_epoch"),
            "event_type",
        )
        .agg(F.count("*").alias("n_unique"))
        .orderBy("window_epoch", "event_type")
    )


def streaming_dedup_counts(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Streaming twin: dropDuplicates → windowed count, the chained
    multiple-stateful-operators pattern (supported in append mode since
    Spark 3.5).  The dedup key includes the event-time minute column so
    watermark advance evicts dedup state; the downstream window agg
    finalizes (and emits) a window once the watermark passes its end —
    the test compares exactly the finalized prefix against the batch
    twin.  ``source`` overrides the default file stream (the restart
    tests inject a file-at-a-time source over the same schema)."""
    ev = source if source is not None else stream_events(spark, sf_dir)
    m = ev.withColumn("minute_ts", F.date_trunc("minute", F.col("ts")))
    return (
        m.withWatermark("minute_ts", "10 minutes")
        .dropDuplicates(["minute_ts", "user_id", "event_type"])
        .groupBy(F.window("minute_ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_unique"))
        .select(
            F.unix_timestamp("w.start").alias("window_epoch"),
            "event_type",
            "n_unique",
        )
    )


# ------------------------------------------------ EWMA feature smoothing

EWMA_ALPHA = 0.2  # 1 - EWMA_ALPHA is exactly 0.8 in float64, as DuckDB reads "0.8"
_EWMA_SCHEMA = "user_id BIGINT, n_events BIGINT, ewma DOUBLE"


def _ewma_update(user_id, n: int, y, pdf):
    """Fold one user's events ``pdf`` into the EWMA state ``(n, y)``:
    the sequential y = (1-α)·y + α·x over the (ts, event_id)-ordered
    values, the first value seeding y — the exact recurrence the
    oracle's list_reduce evaluates, same expression order so the float64
    stream is bit-identical.  Returns the new state and its one output
    row (``_EWMA_SCHEMA``).  The fold of both EWMA twins."""
    import pandas as pd

    for x in pdf.sort_values(["ts", "event_id"])["value"].astype("float64"):
        y = x if n == 0 else (1 - EWMA_ALPHA) * y + EWMA_ALPHA * x
        n += 1
    row = pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "ewma": [round(y, 6)]}
    )
    return (n, y), row


def _ewma_last(pdf):
    return _ewma_update(pdf["user_id"].iloc[0], 0, None, pdf)[1]


_EWMA_ORACLE = f"""
    SELECT user_id,
           count(*) AS n_events,
           ROUND(list_reduce(list(value ORDER BY ts, event_id),
                             (a, x) -> {1 - EWMA_ALPHA} * a + {EWMA_ALPHA} * x), 6) AS ewma
    FROM events
    GROUP BY user_id
    ORDER BY user_id
"""


@query("ts_ewma_smoothing", _EWMA_ORACLE)
def ts_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key exponentially-weighted moving average (α=0.2) over each
    user's event-time-ordered value stream — the classic streaming
    feature smoother, computed per key with applyInPandas.

    An EWMA is an inherently SEQUENTIAL per-key fold (y depends on
    y_prev), so it cannot be a built-in window aggregate; the right
    distributed shape is exactly this: one shuffle on the key, then an
    Arrow-batched per-group kernel (the same state layout
    applyInPandasWithState uses on a stream).  The closed-form
    Σ α(1-α)^(n-j)x_j rewrite would vectorize but changes the floating-
    point stream; the fold here applies (1-α)·y + α·x in the same
    order as the oracle's list_reduce, so both engines produce the
    identical float64 — an exactness test of the kernel, not just a
    rows-only smoke.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return (
        ev.groupBy("user_id")
        .applyInPandas(_ewma_last, schema=_EWMA_SCHEMA)
        .orderBy("user_id")
    )


def streaming_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ts_ewma_smoothing: the EWMA state (y, n) lives
    in applyInPandasWithState keyed by user, updated with the same
    (1-α)·y + α·x fold in (ts, event_id) order within each micro-batch
    — correct under in-order delivery (the standard EWMA streaming
    assumption; a late row would need an event-time reorder buffer).
    Idle users are evicted as in ``_per_user_state``.  On the
    single-batch availableNow replay of the static file this is
    bit-identical to the batch twin, which the test asserts."""

    def fold(user_id, state: tuple, pdfs: list):
        import pandas as pd

        return _ewma_update(user_id, *state, pd.concat(pdfs, ignore_index=True))

    ev = stream_events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    return _per_user_state(
        ev, fold, (0, None), _EWMA_SCHEMA, "n BIGINT, y DOUBLE"
    )


# ------------------------------------------- watermark lateness audit

WM_BATCH_ROWS = 1000  # arrival micro-batch size
WM_JITTER_BLOCK = 3000  # arrival-order scramble span (rows)

_WM_AUDIT_ORACLE = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) AS ts_us,
         CAST(((event_id // {WM_JITTER_BLOCK}) * {WM_JITTER_BLOCK}
               + (event_id * 37) % {WM_JITTER_BLOCK})
              // {WM_BATCH_ROWS} AS BIGINT) AS batch_id
  FROM events
),
sp AS (
  SELECT (MAX(ts_us) - MIN(ts_us)) * {WM_BATCH_ROWS} // COUNT(*)
           AS delay_us
  FROM ev
),
bm AS (
  SELECT batch_id, MAX(ts_us) AS batch_max FROM ev GROUP BY batch_id
),
wm AS (
  SELECT batch_id,
         MAX(batch_max) OVER (ORDER BY batch_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 2 PRECEDING) AS wm_max
  FROM bm
)
SELECT ev.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN wm.wm_max IS NOT NULL
                      AND ev.ts_us < wm.wm_max - sp.delay_us
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       ROUND(CAST(SUM(CASE WHEN wm.wm_max IS NOT NULL
                            AND ev.ts_us < wm.wm_max - sp.delay_us
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS late_frac
FROM ev JOIN wm USING (batch_id), sp
GROUP BY ev.event_type
ORDER BY ev.event_type
"""


@query("stream_watermark_audit", _WM_AUDIT_ORACLE)
def stream_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark lateness accounting: how many rows WOULD Structured
    Streaming drop per event type under withWatermark(delay), replayed
    batch-exactly on a deterministically jittered arrival order.

    Semantics are ENGINE-MEASURED, not assumed (pytest
    test_streaming_watermark_drops_match_replay drives a real
    maxFilesPerTrigger=1 stream and matches the state operator's
    numRowsDroppedByWatermark row for row): arrival order is a
    bijective within-block scramble of event_id (block
    {WM_JITTER_BLOCK}, multiplier 37 coprime to it — the test corpus
    arrives perfectly time-sorted, so unjittered replay would audit
    nothing); micro-batches of {WM_BATCH_ROWS}; the watermark applied
    DURING batch b is the max event time over batches ≤ b-2 minus the
    delay — the engine advances the watermark one batch AFTER the
    batch whose data raised it (this build's measured microbatch
    timing), so the first two batches run unwatermarked; a row is
    dropped iff its event time is strictly below that frozen
    watermark.  The delay is one micro-batch's worth of event time
    (span · {WM_BATCH_ROWS} / n) — row-proportional like the jitter,
    so the late fraction stays non-degenerate (~20%) at any scale
    factor instead of collapsing to 0 or 1 as the corpus grows.

    Scale: the big side takes one narrow pass (batch_id is integer
    arithmetic on event_id); per-batch maxima and the span are tiny
    two-level aggs (map-side combine → one row per batch / one row);
    the running max runs on n/{WM_BATCH_ROWS} rows in a single task —
    metadata-sized by construction — and joins back BROADCAST, so the
    event stream itself never shuffles until the final per-type agg of
    one row per (partition, type).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.expr(
            f"((event_id div {WM_JITTER_BLOCK}) * {WM_JITTER_BLOCK}"
            f" + (event_id * 37) % {WM_JITTER_BLOCK})"
            f" div {WM_BATCH_ROWS}"
        ).alias("batch_id"),
    )
    sp = ev.agg(
        F.expr(
            f"(MAX(ts_us) - MIN(ts_us)) * {WM_BATCH_ROWS} div COUNT(*)"
        ).alias("delay_us")
    )
    bm = ev.groupBy("batch_id").agg(F.max("ts_us").alias("batch_max"))
    w = Window.orderBy("batch_id").rowsBetween(
        Window.unboundedPreceding, -2
    )
    wm = bm.select(
        "batch_id", F.max("batch_max").over(w).alias("wm_max")
    )
    late = F.when(
        F.col("wm_max").isNotNull()
        & (F.col("ts_us") < F.col("wm_max") - F.col("delay_us")),
        1,
    ).otherwise(0)
    return (
        ev.join(F.broadcast(wm), "batch_id")
        .join(F.broadcast(sp))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(late).cast("bigint").alias("n_late"),
            F.round(
                F.sum(late).cast("double") / F.count("*"), 6
            ).alias("late_frac"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- linear interpolation

_INTERP_ORACLE = """
WITH base AS (
  SELECT event_id, event_type, epoch_us(ts) AS ts_us,
         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vi,
         CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS known
  FROM events
),
ctx AS (
  SELECT *,
    last_value(CASE WHEN known = 1 THEN vi END IGNORE NULLS) OVER wp AS pv,
    last_value(CASE WHEN known = 1 THEN ts_us END IGNORE NULLS) OVER wp
      AS pts,
    first_value(CASE WHEN known = 1 THEN vi END IGNORE NULLS) OVER wn AS nv,
    first_value(CASE WHEN known = 1 THEN ts_us END IGNORE NULLS) OVER wn
      AS nts
  FROM base
  WINDOW wp AS (PARTITION BY event_type ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY event_type ORDER BY ts_us, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id, event_type, ts_us, known,
       ROUND(CASE
         WHEN known = 1 THEN vi / 10000.0
         WHEN pv IS NULL THEN nv / 10000.0
         WHEN nv IS NULL OR nts = pts THEN pv / 10000.0
         ELSE (pv + (nv - pv) * CAST(ts_us - pts AS DOUBLE)
               / CAST(nts - pts AS DOUBLE)) / 10000.0
       END, 6) AS interp_value
FROM ctx
ORDER BY event_type, ts_us, event_id
"""


@query("ts_linear_interpolate", _INTERP_ORACLE)
def ts_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series linear interpolation between known samples — the gap
    repair forward-fill can't do (LOCF steps; this draws the line):
    every 5th event (deterministic event_id rule standing in for the
    sensor's real cadence) is a known sample, the rest interpolate
    between their time-nearest known neighbors, edges clamp to the one
    available side.

    Exactness: known values fix to 1e-4 integers, the neighbor carries
    are integer window functions, and the only float math is one
    slope-assembly per row on integer inputs + ROUND — identical in
    both engines.

    Scale: ONE shuffle (hash on event_type); both carries are
    running-state window passes over the same sort (the descending
    pass is a partition-local re-sort, no second exchange) — the same
    single-exchange shape as join_asof_nearest.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("vi"),
        F.when(F.col("event_id") % 5 == 0, 1).otherwise(0).alias("known"),
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    kv = F.when(F.col("known") == 1, F.col("vi"))
    kt = F.when(F.col("known") == 1, F.col("ts_us"))
    ctx = base.select(
        "event_id",
        "event_type",
        "ts_us",
        "known",
        "vi",
        F.last(kv, ignorenulls=True).over(wp).alias("pv"),
        F.last(kt, ignorenulls=True).over(wp).alias("pts"),
        F.first(kv, ignorenulls=True).over(wn).alias("nv"),
        F.first(kt, ignorenulls=True).over(wn).alias("nts"),
    )
    interp = (
        F.when(F.col("known") == 1, F.col("vi") / 10000.0)
        .when(F.col("pv").isNull(), F.col("nv") / 10000.0)
        .when(
            F.col("nv").isNull() | (F.col("nts") == F.col("pts")),
            F.col("pv") / 10000.0,
        )
        .otherwise(
            (
                F.col("pv")
                + (F.col("nv") - F.col("pv"))
                * (F.col("ts_us") - F.col("pts")).cast("double")
                / (F.col("nts") - F.col("pts")).cast("double")
            )
            / 10000.0
        )
    )
    return ctx.select(
        "event_id",
        "event_type",
        "ts_us",
        "known",
        F.round(interp, 6).alias("interp_value"),
    ).orderBy("event_type", "ts_us", "event_id")


# ------------------------------- stream-stream LEFT OUTER interval join

_OUTER_JOIN_ORACLE = """
SELECT l.event_id AS click_id, p.event_id AS purchase_id, l.user_id,
       (floor(epoch(p.ts)) - floor(epoch(l.ts)))::BIGINT AS secs_to_purchase
FROM (SELECT * FROM events WHERE event_type = 'click') l
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = l.user_id
 AND p.ts >= l.ts AND p.ts < l.ts + INTERVAL 1 HOUR
ORDER BY click_id, purchase_id
"""


@query("stream_outer_join", _OUTER_JOIN_ORACLE)
def outer_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream LEFT OUTER interval join: every
    click, attributed to same-user purchases in the following hour —
    unconverted clicks survive with NULL purchase columns (the
    conversion-attribution table, complement of stream_interval_join's
    inner flavor)."""
    ev = load_table(spark, sf_dir, "events")
    return _interval_join(ev, outer=True).orderBy("click_id", "purchase_id")


def streaming_outer_join(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermarks.  Matched pairs
    emit as soon as both rows arrive; a click's NULL-extended row emits
    only once the watermark proves no in-window purchase can still
    arrive (l.ts + 1h < watermark) — so the stream's output is the
    batch twin's rows, with the newest unconverted clicks (those whose
    join window the final watermark never passed) withheld in state for
    the next run.  The watermark's basis is ``min(max click ts, max
    purchase ts)`` — Spark takes the MIN across all EventTimeWatermark
    nodes, and each side's node only sees its own filtered stream — so
    the newest click can never be evicted within the run that saw it
    (it defines its side's watermark).  tests/test_streaming.py asserts
    exactly that relationship; state per side stays bounded to the
    window + delay.  ``source`` overrides the default file stream (the
    restart tests inject a file-at-a-time source over the same schema).
    """
    ev = source if source is not None else stream_events(spark, sf_dir)
    return _interval_join(ev, outer=True, side=_watermarked)


# ------------------------------------- streaming ingestion dedup gate


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` as an unbounded source (the ``stream_events`` file
    stream)."""
    return _file_stream(
        spark,
        sf_dir,
        "documents",
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )


# The four stream_ingest_* batch twins are the 2x2 of {static, growing}
# index x {collision-only, Jaccard-verified} admission.  All four, and
# the streaming foreachBatch gate, admit through ONE step (_admit); the
# DuckDB twins come from ONE builder (_gate_oracle).

# Deterministic micro-batch assignment for the GROWING gates' batch
# twins + oracles: incoming (odd) docs arrive in this many batches,
# batch index = ((doc_id-1)/2) mod N — round-robin, expressible
# identically in Spark (`div`) and DuckDB (`//`).
_GATE_N_BATCHES = 4


def _gate_oracle(growing: bool, verified: bool) -> str:
    """Chained-CTE twin of the four batch gates.  Incoming (odd) docs
    arrive in ``_GATE_N_BATCHES`` batches when ``growing``, else in one.
    Batch k admits an odd doc unless one of its bands collides with
    hist{k} or, when growing, with a lower-id doc of batch k
    (keep-first-by-id); when ``verified`` a collision counts only if the
    pair's exact Jaccard is >= τ.  hist0 is the historical (even) band
    index and hist{k+1} = hist{k} plus batch k's admitted docs' bands:
    the fixed batch count unrolls the sequential loop into plain SQL."""
    from kachess_spark.pipeline.dedup import (
        _CANON_SQL,
        _SHINGLES_SQL,
        MINHASH_VERIFY_TAU,
        _jaccard_sql,
        _sql_sig_bands,
    )

    nb = _GATE_N_BATCHES if growing else 1

    def in_batch(alias: str, k: int) -> str:
        if not growing:
            return ""
        return f" AND (({alias}.doc_id - 1) // 2) % {nb} = {k}"

    def collides(partner: str, cond: str) -> str:
        """NOT EXISTS a band collision of o with a ``partner`` row."""
        if verified:
            jac = _jaccard_sql("sa", "sp")
            cond += f"\n            AND ROUND({jac}, 6) >= {MINHASH_VERIFY_TAU}"
        shingles = (
            "\n          JOIN sh sa ON sa.doc_id = o.doc_id"
            "\n          JOIN sh sp ON sp.doc_id = p.doc_id"
            if verified
            else ""
        )
        return f"""
        AND NOT EXISTS (
          SELECT 1 FROM bands nbnd JOIN {partner} p
            ON nbnd.band = p.band AND nbnd.band_key = p.band_key{shingles}
          WHERE nbnd.doc_id = o.doc_id{cond})"""

    parts = [f"""
    WITH {_sql_sig_bands()},"""]
    if verified:
        parts.append(f"""
    sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles
      FROM documents
      WHERE len(string_split({_CANON_SQL}, ' ')) >= 3
    ),""")
    parts.append("""
    hist0 AS (
      SELECT doc_id, band, band_key FROM bands WHERE doc_id % 2 = 0
    )""")
    for k in range(nb):
        same = ""
        if growing:
            same = collides(
                "bands",
                f"\n            AND p.doc_id % 2 = 1{in_batch('p', k)}"
                " AND p.doc_id < o.doc_id",
            )
        parts.append(f""",
    adm{k} AS (
      SELECT o.doc_id FROM documents o
      WHERE o.doc_id % 2 = 1{in_batch('o', k)}{collides(f"hist{k}", "")}{same}
    )""")
        if k + 1 < nb:
            parts.append(f""",
    hist{k + 1} AS (
      SELECT doc_id, band, band_key FROM hist{k}
      UNION ALL
      SELECT b.doc_id, b.band, b.band_key FROM bands b JOIN adm{k} a
        ON b.doc_id = a.doc_id
    )""")
    admitted = " UNION ALL ".join(
        f"SELECT doc_id FROM adm{k}" for k in range(nb)
    )
    parts.append(f"""
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN ({admitted}) a ON d.doc_id = a.doc_id
    ORDER BY d.doc_id""")
    return "".join(parts)


def _admit(
    index: DataFrame,
    batch: DataFrame,
    ids: DataFrame,
    same_batch: bool,
    sh: DataFrame | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """One batch's admission decision: the rows of ``ids`` none of whose
    ``batch`` band rows (doc_id, band, band_key) collides with a band
    row of ``index`` — nor, when ``same_batch``, with a lower-doc_id doc
    of the batch itself (keep-first-by-id: a distributed batch has no
    arrival order to sequence greedy admission on).  Given ``sh``
    (doc_id, shingles), a collision drops a doc only when the pair's
    exact Jaccard is >= MINHASH_VERIFY_TAU, so ``index`` must then carry
    each row's doc_id.

    ONE probe join finds both collision classes: the index rows (tag
    -1, a collision always counts) plus, when ``same_batch``, the
    batch's own rows tagged with their doc_id (counts only against a
    higher id) join the batch's band rows.  ``broadcast`` ships the
    batch side, the scale-correct direction for a micro-batch against
    a stored index (the index streams once, neither side shuffles); the
    static twins leave that join to the planner.  The candidate pairs
    and the dropped ids are batch-sized and always broadcast: the
    shingle table streams against the pairs twice, and the ids stream
    against the dropped set."""
    from kachess_spark.pipeline.dedup import MINHASH_VERIFY_TAU, _jaccard

    pid = [F.col("doc_id").alias("p_id")] if sh is not None else []
    target = index.select("band", "band_key", *pid)
    if same_batch:
        target = target.withColumn("own", F.lit(-1).cast("long")).unionByName(
            batch.select(
                "band",
                "band_key",
                *pid,
                F.col("doc_id").cast("long").alias("own"),
            )
        )
    probe = batch.select(F.col("doc_id").alias("n_id"), "band", "band_key")
    hits = target.join(
        F.broadcast(probe) if broadcast else probe, ["band", "band_key"]
    )
    if same_batch:
        hits = hits.where(
            (F.col("own") == -1) | (F.col("own") < F.col("n_id"))
        )
    if sh is None:
        dropped = hits.select(F.col("n_id").alias("doc_id")).distinct()
    else:
        pairs = hits.select(F.col("n_id").alias("a_id"), "p_id").distinct()
        a_side = sh.select(
            F.col("doc_id").alias("a_id"), F.col("shingles").alias("sh_a")
        ).join(F.broadcast(pairs), "a_id")
        dropped = (
            sh.select(
                F.col("doc_id").alias("p_id"), F.col("shingles").alias("sh_b")
            )
            .join(F.broadcast(a_side), "p_id")
            .select(
                "a_id",
                F.size("sh_a").alias("n_a"),
                F.size("sh_b").alias("n_b"),
                F.size(F.array_intersect("sh_a", "sh_b")).alias("n_i"),
            )
            .where(_jaccard("n_i", "n_a", "n_b") >= MINHASH_VERIFY_TAU)
            .select(F.col("a_id").alias("doc_id"))
            .distinct()
        )
    return ids.join(F.broadcast(dropped), "doc_id", "left_anti")


def _static_gate(spark: SparkSession, sf_dir: str, verify: bool) -> DataFrame:
    """The static twins: every incoming (odd) doc is admitted against the
    historical (even) band index in one step — no loop, no fold."""
    from kachess_spark.pipeline.dedup import (
        _band_rows,
        _with_shingles,
        minhash_signature,
    )

    docs = load_table(spark, sf_dir, "documents")
    bands = _band_rows(minhash_signature(docs))
    if verify:
        # barrier: reuse — the history and the incoming side both read the bands
        bands = barrier(bands, eager=True)
    return (
        _admit(
            bands.where(F.col("doc_id") % 2 == 0),
            bands.where(F.col("doc_id") % 2 == 1),
            docs.where(F.col("doc_id") % 2 == 1),
            same_batch=False,
            sh=_with_shingles(docs) if verify else None,
            broadcast=False,
        )
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


def _growing_gate(spark: SparkSession, sf_dir: str, verify: bool) -> DataFrame:
    """The growing twins' loop: each of the ``_GATE_N_BATCHES``
    micro-batches is admitted against the index as of its batch, then
    its admitted docs' band rows (with their ids) fold into the index.

    ONE checkpoint barrier per batch: the grown index carries admitted
    docs' ids, so the admitted set is derived from the FINAL index in a
    single closing job instead of checkpointing each batch's admissions
    separately.  Shingle-less docs (<3 words) never enter the band
    index; they are re-derived as odd docs with no band rows (always
    admitted — nothing to collide on)."""
    from kachess_spark.pipeline.dedup import (
        _band_rows,
        _with_shingles,
        minhash_signature,
    )

    docs = load_table(spark, sf_dir, "documents")
    # barrier: reuse — every batch reads the shingles and the bands
    sh = barrier(_with_shingles(docs), eager=True) if verify else None
    bands = barrier(_band_rows(minhash_signature(docs)), eager=True)
    hist = bands.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1).withColumn(
        "b", F.expr(f"((doc_id - 1) div 2) % {_GATE_N_BATCHES}")
    )
    for k in range(_GATE_N_BATCHES):
        bk_ids = odd.where(F.col("b") == k).select("doc_id")
        bkb = bands.join(F.broadcast(bk_ids), "doc_id")
        adm_ids = _admit(hist, bkb, bk_ids, same_batch=True, sh=sh)
        # coalesced so the per-batch union doesn't accumulate partitions
        # (32 + 32 per batch grew the final probe to 128 tiny tasks)
        # barrier: loop — the index grows by a union each batch
        hist = barrier(
            hist.unionByName(
                bands.join(F.broadcast(adm_ids), "doc_id").select(
                    "doc_id", "band", "band_key"
                )
            )
            .coalesce(8),
            eager=True,
        )
    admitted_ids = (
        hist.where(F.col("doc_id") % 2 == 1)
        .select("doc_id")
        .distinct()
        .unionByName(
            odd.select("doc_id").join(
                bands.select("doc_id"), "doc_id", "left_anti"
            )
        )
    )
    return (
        docs.join(F.broadcast(admitted_ids), "doc_id", "left_semi")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


@query("stream_ingest_dedup_gate", _gate_oracle(growing=False, verified=False))
def ingest_dedup_gate_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming ingestion dedup gate: incoming docs
    (odd doc_ids) are ACCEPTED iff none of their MinHash LSH bands
    collides with the persisted historical index (even doc_ids) — the
    admission decision of dedup_incremental_lsh, folded to the
    accept/drop verdict a streaming ingest pipeline acts on.  Docs too
    short to shingle (<3 words) cannot match and are accepted.

    Scale shape: signatures for the incoming side only (the historical
    corpus is never re-shingled — its band index is a stored table);
    the gate is one band-equality join + distinct + an anti-join back
    to the batch, all hash joins on band keys / doc_id.
    """
    return _static_gate(spark, sf_dir, verify=False)


@query(
    "stream_ingest_gate_verified", _gate_oracle(growing=False, verified=True)
)
def ingest_gate_verified_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-aware admission gate: an incoming (odd) doc is dropped
    only when a band collision against the historical (even) index is
    CONFIRMED by exact Jaccard >= τ on the two shingle sets — LSH false
    positives are admitted instead of silently discarded (the
    recall/precision split of ``dedup_minhash_verified``, applied to
    the ingest decision).  Compare ``stream_ingest_dedup_gate``: that
    static gate drops on collision alone.

    Scale shape: the candidate space is the band bucket join (never
    all-pairs); verification broadcasts the candidate pairs into the
    shingle table and is codegen ``array_intersect``, no explode.  The
    production streaming wiring stores shingle arrays alongside the
    band index and runs this exact per-batch plan.
    """
    return _static_gate(spark, sf_dir, verify=True)


@query(
    "stream_ingest_gate_growing", _gate_oracle(growing=True, verified=False)
)
def ingest_gate_growing_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the GROWING ingestion gate: incoming (odd) docs
    arrive in ``_GATE_N_BATCHES`` deterministic micro-batches; a doc is
    admitted iff none of its LSH bands collides with the index as of its
    batch — the historical (even) corpus PLUS every EARLIER-ADMITTED
    incoming doc — nor with a lower-doc_id doc in the same batch
    (within-batch keep-first-by-id).  Admitted docs' bands fold into
    the index; dropped docs' do not.

    Scale shape: the loop is over MICRO-BATCHES (a handful), not rows —
    per iteration one probe join of the stored index against the
    broadcast batch bands, exactly the per-batch plan the streaming
    gate executes.  The stored index only ever grows by admitted docs,
    so per-batch probe cost tracks the serving corpus, and nothing ever
    re-shingles history.
    """
    return _growing_gate(spark, sf_dir, verify=False)


@query(
    "stream_ingest_gate_growing_verified",
    _gate_oracle(growing=True, verified=True),
)
def ingest_gate_growing_verified_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL production admission gate: the index grows with each
    batch's admitted docs (``stream_ingest_gate_growing``) AND every
    band collision is confirmed by exact Jaccard >= τ before dropping
    (``stream_ingest_gate_verified``) — LSH false positives are
    admitted, true near-duplicates are caught across micro-batches,
    and only ADMITTED docs' bands (with their doc ids, so later
    batches can verify against the admitting doc's shingles) fold into
    the index.  Within-batch policy: keep-first-by-id over VERIFIED
    collisions.

    Scale shape: per batch one probe join of the stored index against
    the broadcast batch bands, and codegen ``array_intersect``
    verification shipped only for colliding pairs; the index stores
    (doc_id, band, band_key) rows plus the shingle arrays of admitted
    docs — exactly what the production foreachBatch sink materializes
    per batch.
    """
    return _growing_gate(spark, sf_dir, verify=True)


def streaming_ingest_dedup_gate(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
    state_root: str | None = None,
    grow: bool = True,
) -> DataFrame:
    """Streaming twin: the incoming doc stream is gated per micro-batch
    with ``foreachBatch`` — signatures computed for THE BATCH ONLY, one
    probe join of the STORED band index (a parquet table under
    ``state_root/index``; the batch twins' admission step, ``_admit``),
    anti-join back, accepted rows appended to the serving sink.  This is
    the production ingestion-dedup shape: per-batch cost is O(batch)
    signature compute plus an index probe, the historical corpus is
    never re-shingled, and the sink only ever receives admitted
    documents.

    With ``grow=True`` (the production default, round-7 verdict #2) each
    batch also FOLDS ITS ADMITTED DOCS' BANDS back into the stored index
    (per-batch overwrite subdir — the same crash-replay idempotence
    contract as the sink), so near-duplicate NEW docs arriving in
    different micro-batches are caught: the second one probes an index
    that already contains the first.  Within a batch the policy is
    keep-first-by-id (lower-doc_id band collision drops the higher).
    ``grow=False`` keeps the static-index semantics of the
    ``stream_ingest_dedup_gate`` batch twin (batching-invariant);
    the growing semantics match ``stream_ingest_gate_growing`` when the
    micro-batches equal that twin's deterministic buckets.

    Returns the accepted-documents DataFrame read back from the sink.
    ``source`` overrides the default file stream; ``state_root`` resumes
    an existing sink + checkpoint + index instead of starting fresh (the
    restart path — exercised by the exactly-once pytests).
    """
    import shutil

    from kachess_spark.operators.sinks import _scratch
    from kachess_spark.pipeline.dedup import _band_rows, minhash_signature

    if state_root is None:
        # unique per invocation: a second default-path call in the same
        # session must not rmtree a sink an earlier call's returned
        # (lazy) DataFrame may still be reading
        import uuid

        state_root = _scratch(f"ingest_gate_{uuid.uuid4().hex[:8]}")
        shutil.rmtree(state_root, ignore_errors=True)
    out_root = state_root
    out_dir = os.path.join(out_root, "accepted")
    idx_dir = os.path.join(out_root, "index")
    os.makedirs(out_dir, exist_ok=True)

    docs = load_table(spark, sf_dir, "documents")
    hist_src = _band_rows(
        minhash_signature(docs.where(F.col("doc_id") % 2 == 0))
    ).select("band", "band_key")
    if grow:
        # the stored index: seeded once with history, grown per batch;
        # a resume (state_root with an existing index) reuses it as-is
        hist_dir = os.path.join(idx_dir, "hist")
        if not os.path.isdir(hist_dir):
            hist_src.write.mode("overwrite").parquet(hist_dir)
        hist_bands = None
    else:
        # barrier: reuse — built ONCE, every micro-batch probes it
        hist_bands = barrier(hist_src, eager=True)

    def _index_dirs_before(batch_id: int) -> list:
        """Stored-index parquet dirs visible to ``batch_id``: the hist
        seed plus batch=k contributions with k < batch_id ONLY.  A
        replayed micro-batch (index batch dir written, offsets-commit
        not — foreachBatch is at-least-once) must NOT read its own
        prior contribution: every doc it previously admitted would
        collide with its own bands, be dropped, and the overwrite would
        empty the sink + index dirs — silent data loss.  Listing dirs
        explicitly (not recursiveFileLookup) also keeps partial files
        under a crashed write's _temporary/ out of the scan."""
        dirs = []
        hist_dir = os.path.join(idx_dir, "hist")
        if os.path.isdir(hist_dir):
            dirs.append(hist_dir)
        for name in os.listdir(idx_dir):
            if not name.startswith("batch="):
                continue
            try:
                k = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if k < batch_id and os.path.isdir(os.path.join(idx_dir, name)):
                dirs.append(os.path.join(idx_dir, name))
        return dirs

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        new_bands = _band_rows(minhash_signature(batch_df))
        if grow:
            # the stored index AS OF this batch: every EARLIER batch's
            # admitted contribution (availableNow batches run serially),
            # but never batch_id's own — crash-replay safe
            # barrier: reuse — the probe and the same-batch target read the bands
            new_bands = barrier(new_bands, eager=True)
            idx = spark.read.parquet(*_index_dirs_before(batch_id))
        else:
            idx = hist_bands
        # batch side broadcast (batch << stored index): the index
        # partitions stream once with no shuffle of either side — the
        # same admission step as the batch twins
        admitted = _admit(idx, new_bands, batch_df, same_batch=grow).select(
            "doc_id", "source", "n_chars"
        )
        if grow:
            # barrier: boundary — eager: breaks the index-read lineage
            # before we write back UNDER the index dir, and admitted feeds
            # two writes (sink + index) — lazy would recompute per consumer
            admitted = barrier(admitted, eager=True)
        (
            admitted
            # exactly-once under crash-replay: each micro-batch owns a
            # deterministic subdir and OVERWRITES it, so a replayed
            # batch (offset log behind the sink at crash time) replaces
            # its own output instead of double-appending — the same
            # idempotence contract as the versioned upsert sink, without
            # needing cross-batch merge state
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch={batch_id}"))
        )
        if grow:
            # fold admitted docs' bands into the stored index — same
            # per-batch overwrite-dir idempotence as the sink, so a
            # replayed batch replaces (not duplicates) its contribution
            (
                new_bands.join(
                    F.broadcast(admitted.select("doc_id")), "doc_id"
                )
                .select("band", "band_key")
                .write.mode("overwrite")
                .parquet(os.path.join(idx_dir, f"batch={batch_id}"))
            )

    sdocs = (
        source
        if source is not None
        else stream_documents(spark, sf_dir)
    ).where(F.col("doc_id") % 2 == 1)
    _drain(sdocs, gate, os.path.join(out_root, "_chk"))
    # batch=<id> partition dirs: recursive read, drop the partition col.
    # The gate skips empty micro-batches entirely, so a fully-duplicate
    # (or empty) stream leaves NO batch dirs — return an empty frame
    # instead of letting the glob read raise PATH_NOT_FOUND.
    import glob as _glob

    if not _glob.glob(os.path.join(out_dir, "batch=*")):
        return spark.createDataFrame(
            [], "doc_id long, source string, n_chars long"
        )
    return (
        spark.read.option("basePath", out_dir)
        .parquet(os.path.join(out_dir, "batch=*"))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------- seasonal decomposition (ts)

_SEAS_HALF = 3  # centered moving-average half-width (frame = 7 rows)

_SEASONAL_ORACLE = f"""
    WITH v AS (
      SELECT event_id, ts, event_type,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vi
      FROM events
    ),
    t AS (
      SELECT event_type, ts, vi,
             SUM(vi) OVER w AS num, COUNT(*) OVER w AS den
      FROM v
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN {_SEAS_HALF} PRECEDING
                            AND {_SEAS_HALF} FOLLOWING)
    )
    SELECT event_type, CAST(hour(ts) AS INT) AS hr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(vi * {2 * _SEAS_HALF + 1} - num) AS BIGINT)
             AS detrended_sum_q
    FROM t WHERE den = {2 * _SEAS_HALF + 1}
    GROUP BY event_type, hr
    ORDER BY event_type, hr
"""


@query("ts_seasonal_decompose", _SEASONAL_ORACLE)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition, exact-integer variant: detrend
    each event_type's (ts, event_id)-ordered value stream with a
    centered {2 * _SEAS_HALF + 1}-row moving average, then fold the
    detrended series into hour-of-day seasonal cells — the
    trend/seasonal split behind traffic dashboards and anomaly
    baselines.

    Exactness: values are 1e-4 fixed-point BIGINTs and the detrended
    residual is kept as the EXACT integer vi·W − Σ_frame vi (W times
    the residual — emitting the (sum, n) pair instead of dividing
    sidesteps the floor-vs-truncate integer-division dialect split for
    negative residuals; the seasonal index is sum/(W·10⁴·n) for the
    consumer).  Edge rows whose frame is not full (den < W) are
    excluded on both sides, so no partial-window semantics leak in.

    Scale: one shuffle onto the event_type window partition (bounded
    ROWS frame → O(W) state per row), then a map-side-combinable hash
    aggregation onto (event_type, hour) — ~types·24 output rows,
    metadata-sized at any corpus scale.
    """
    W = 2 * _SEAS_HALF + 1
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("vi"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_SEAS_HALF, _SEAS_HALF)
    )
    t = ev.select(
        "event_type",
        "ts",
        "vi",
        F.sum("vi").over(w).alias("num"),
        F.count("*").over(w).alias("den"),
    ).where(F.col("den") == W)
    return (
        t.groupBy("event_type", F.hour("ts").cast("int").alias("hr"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("vi") * W - F.col("num"))
            .cast("bigint")
            .alias("detrended_sum_q"),
        )
        .orderBy("event_type", "hr")
    )
