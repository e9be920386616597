"""Structured Streaming paths: availableNow trigger → memory sink, compared
against the batch twins (same logical plans, so results must agree on a
static source)."""

from __future__ import annotations

import uuid

import pytest


def _run_stream(spark, sdf, mode: str):
    name = "m" + uuid.uuid4().hex[:10]
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    # a wedged stream fails as one, not as a mismatch against a partial table
    assert q.awaitTermination(120), "stream did not drain"
    return spark.table(name)


@pytest.mark.parametrize("kind", ["tumbling", "sliding"])
def test_streaming_matches_batch(spark, sf_dir, kind):
    from kachess_spark.streaming import (
        sliding_window_avg,
        streaming_sliding_avg,
        streaming_tumbling_counts,
        tumbling_window_counts,
    )

    if kind == "tumbling":
        stream_fn, batch_fn = streaming_tumbling_counts, tumbling_window_counts
    else:
        stream_fn, batch_fn = streaming_sliding_avg, sliding_window_avg

    got = _run_stream(spark, stream_fn(spark, sf_dir), "complete")
    want = batch_fn(spark, sf_dir)
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows
    assert len(got_rows) > 0


def test_streaming_session_windows(spark, sf_dir):
    from kachess_spark.streaming import (
        session_window_stats,
        streaming_session_stats,
    )

    got = _run_stream(spark, streaming_session_stats(spark, sf_dir), "complete")
    want = session_window_stats(spark, sf_dir)
    # session keys differ (start/end timestamps vs ordinal numbers) but the
    # partition into sessions must be identical: compare the multiset of
    # (user_id, n_events, session_value) triples
    got_rows = sorted(
        (r["user_id"], r["n_events"], r["session_value"]) for r in got.collect()
    )
    want_rows = sorted(
        (r["user_id"], r["n_events"], r["session_value"]) for r in want.collect()
    )
    assert got_rows == want_rows
    assert len(got_rows) > 0


@pytest.mark.slow  # >=20 s measured; excluded from the default gate run (pytest.ini)
def test_streaming_stateful_running_totals(spark, sf_dir):
    from kachess_spark.catalog import load_table
    from kachess_spark.streaming import streaming_user_running_totals

    got = _run_stream(
        spark, streaming_user_running_totals(spark, sf_dir), "update"
    )
    # final state per user == batch per-user totals (take the last emitted
    # row per user — availableNow may micro-batch per input file)
    import pandas as pd

    pdf = got.toPandas()
    final = pdf.groupby("user_id").last().reset_index()
    ev = load_table(spark, sf_dir, "events").toPandas()
    want = (
        ev.groupby("user_id")
        .agg(total_events=("event_id", "size"), total_value=("value", "sum"))
        .reset_index()
    )
    merged = final.merge(want, on="user_id", suffixes=("", "_want"))
    assert len(merged) == len(want)
    assert (merged.total_events == merged.total_events_want).all()
    assert (merged.total_value - merged.total_value_want).abs().max() < 1e-6


def test_streaming_dedup(spark, sf_dir):
    from kachess_spark.catalog import load_table
    from kachess_spark.streaming import streaming_dedup_events

    got = _run_stream(spark, streaming_dedup_events(spark, sf_dir), "append")
    # one survivor per (user_id, event_type) seen in the static source
    want = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert got.count() == want
    assert got.select("user_id", "event_type").distinct().count() == want


def test_streaming_static_enrich(spark, sf_dir):
    """Stream-static broadcast join must agree with its batch twin."""
    from kachess_spark.streaming import streaming_static_enrich
    from kachess_spark.streaming.windows import static_enrich_batch

    got = _run_stream(spark, streaming_static_enrich(spark, sf_dir), "complete")
    want = static_enrich_batch(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_streaming_interval_join(spark, sf_dir):
    """Watermarked stream-stream interval join must produce exactly the
    batch join's pairs (append mode: each pair emitted once)."""
    from kachess_spark.streaming import streaming_interval_join
    from kachess_spark.streaming.windows import interval_join_batch

    got = _run_stream(spark, streaming_interval_join(spark, sf_dir), "append")
    want = interval_join_batch(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_streaming_foreach_batch_upsert(spark, sf_dir):
    """The foreachBatch-merged serving table's final state must equal
    the one-shot batch aggregation."""
    from kachess_spark.streaming.windows import (
        streaming_foreach_batch_upsert,
        upsert_totals_batch,
    )

    got = streaming_foreach_batch_upsert(spark, sf_dir).toPandas()
    want = upsert_totals_batch(spark, sf_dir).toPandas()
    assert got.equals(want)


def test_streaming_file_sink_exactly_once(spark, sf_dir, tmp_path):
    """Streaming parquet file sink: the _spark_metadata commit log makes
    output exactly-once — a reader sees ONLY committed files, and the
    streamed content equals the batch read of the same source."""
    from pyspark.sql import functions as F

    from kachess_spark.catalog import load_table
    from kachess_spark.streaming.windows import stream_events

    out = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    q = (
        stream_events(spark, sf_dir)
        .select("event_id", "event_type")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain"
    import os

    assert os.path.isdir(os.path.join(out, "_spark_metadata"))
    got = spark.read.parquet(out)
    want = load_table(spark, sf_dir, "events")
    assert got.count() == want.count()
    assert (
        got.groupBy("event_type").count().orderBy("event_type").collect()
        == want.groupBy("event_type").count().orderBy("event_type").collect()
    )


def test_streaming_trending_topk(spark, sf_dir):
    """foreachBatch-ranked trending top-k must agree with the batch twin
    (static source + availableNow drains everything into one final
    window set)."""
    from kachess_spark.streaming.windows import (
        streaming_trending_topk,
        trending_topk_batch,
    )

    got = sorted(map(tuple, streaming_trending_topk(spark, sf_dir).collect()))
    want = sorted(map(tuple, trending_topk_batch(spark, sf_dir).collect()))
    assert got == want
    assert len(got) > 0


def test_streaming_dedup_counts_finalized_prefix(spark, sf_dir):
    """Chained stateful ops (dropDuplicates → windowed agg, append mode):
    every window the watermark finalized must match the batch twin
    exactly; the withheld remainder is precisely the tail windows past
    (max event time − delay)."""
    from pyspark.sql import functions as F

    from kachess_spark.catalog import load_table
    from kachess_spark.streaming import dedup_window_counts, streaming_dedup_counts

    got = _run_stream(spark, streaming_dedup_counts(spark, sf_dir), "append")
    batch = dedup_window_counts(spark, sf_dir)
    max_minute = (
        load_table(spark, sf_dir, "events")
        .select(F.unix_timestamp(F.date_trunc("minute", "ts")).alias("m"))
        .agg(F.max("m"))
        .collect()[0][0]
    )
    watermark = max_minute - 600  # 10-minute delay on the minute column
    finalized = batch.where(F.col("window_epoch") + 3600 <= watermark)
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, finalized.collect()))
    assert got_rows == want_rows
    assert len(got_rows) > 0


@pytest.mark.slow  # >=20 s measured; excluded from the default gate run (pytest.ini)
def test_streaming_ewma_matches_batch(spark, sf_dir):
    """Stateful streaming EWMA must be bit-identical to the batch twin
    on the single-batch availableNow replay (same fold, same order)."""
    from kachess_spark.streaming.windows import ts_ewma_smoothing
    from kachess_spark.streaming import streaming_ewma_smoothing

    got = _run_stream(spark, streaming_ewma_smoothing(spark, sf_dir), "update")
    want = ts_ewma_smoothing(spark, sf_dir)
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows
    assert len(got_rows) > 0


def test_streaming_watermark_drops_match_replay(spark, sf_dir, tmp_path):
    """The engine's own numRowsDroppedByWatermark must equal a frozen-
    watermark batch replay — the semantic claim behind
    stream_watermark_audit, checked against Structured Streaming itself.

    Events are re-ordered by the same bijective block jitter the audit
    uses and split into arrival micro-batch files consumed one per
    trigger.  The stateful op is dropDuplicates (its state operator
    sees RAW rows, so the drop metric counts source rows; a windowed
    agg would count post-partial-agg rows).  Measured engine timing on
    this build: the watermark applied during batch b is
    max event-time (ms) over batches <= b-2 minus the delay, and a row
    is dropped iff ts < that watermark — the same lag-2 rule
    stream_watermark_audit replays.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from kachess_spark.catalog import load_table

    BLOCK, BATCH, DELAY_S = 300, 100, 7200

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    ev["arr"] = (ev.event_id // BLOCK) * BLOCK + (ev.event_id * 37) % BLOCK
    ev = ev.sort_values("arr").reset_index(drop=True)
    ev["batch"] = ev.index // BATCH
    # unit-safe epoch ms (toPandas may hand back datetime64[ns] or [us])
    ev["ts_ms"] = ev.ts.astype("datetime64[us]").astype("int64") // 1_000

    # frozen-watermark replay: lag-2 max, ts < wm (engine-measured rule)
    batches = sorted(ev.batch.unique())
    maxes = {b: int(ev[ev.batch == b].ts_ms.max()) for b in batches}
    expected = []
    for b in batches:
        prior = [maxes[x] for x in batches if x <= b - 2]
        wm = max(prior) - DELAY_S * 1000 if prior else None
        rows = ev[ev.batch == b]
        expected.append(
            0 if wm is None else int((rows.ts_ms < wm).sum())
        )
    assert sum(expected) > 0  # parameters must actually exercise drops

    # one parquet file per arrival batch, mtimes in arrival order
    src = tmp_path / "wm_src"
    src.mkdir()
    for b in batches:
        rows = ev[ev.batch == b]
        tbl = pa.table(
            {
                "event_id": pa.array(rows.event_id, pa.int64()),
                "ts": pa.array(rows.ts_ms * 1000, pa.timestamp("us")),
            }
        )
        path = str(src / f"batch_{b:04d}.parquet")
        pq.write_table(tbl, path)
        t = 1_700_000_000 + b * 10
        os.utime(path, (t, t))

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", f"{DELAY_S} seconds")
        .dropDuplicates(["event_id", "ts"])
    )
    name = "wm" + uuid.uuid4().hex[:8]
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain"
    got = [
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    ]
    # engine appends a final empty flush batch; compare totals and the
    # per-batch prefix (row-for-row agreement, not just the sum)
    assert got[: len(expected)] == expected
    assert sum(got) == sum(expected)


def test_watermark_audit_consistent_with_replay(spark, sf_dir):
    """stream_watermark_audit's n_late must equal an independent pandas
    replay of the lag-2 frozen-watermark rule at the operator's own
    constants (the engine-rule twin of the DuckDB oracle check)."""
    from kachess_spark.catalog import load_table
    from kachess_spark.streaming.windows import (
        WM_BATCH_ROWS,
        WM_JITTER_BLOCK,
        stream_watermark_audit,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    ev["ts_us"] = ev.ts.astype("datetime64[us]").astype("int64")
    ev["batch"] = (
        (ev.event_id // WM_JITTER_BLOCK) * WM_JITTER_BLOCK
        + (ev.event_id * 37) % WM_JITTER_BLOCK
    ) // WM_BATCH_ROWS
    delay = (int(ev.ts_us.max()) - int(ev.ts_us.min())) * WM_BATCH_ROWS // len(ev)
    batches = sorted(ev.batch.unique())
    maxes = {b: int(ev[ev.batch == b].ts_us.max()) for b in batches}
    n_late = 0
    for b in batches:
        prior = [maxes[x] for x in batches if x <= b - 2]
        if not prior:
            continue
        wm = max(prior) - delay
        n_late += int((ev[ev.batch == b].ts_us < wm).sum())

    got = stream_watermark_audit(spark, sf_dir)
    assert got.agg({"n_late": "sum"}).collect()[0][0] == n_late


def test_streaming_checkpoint_resume_no_reprocessing(spark, sf_dir, tmp_path):
    """Exactly-once across restarts: drain half the input files, let the
    query terminate, land the other half, RESTART from the same
    checkpoint — the second run must process only the new files (no
    re-emission) and the final sink must equal a batch read of
    everything."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )

    def write_file(idx):
        tbl = pa.table(
            {
                "k": pa.array(range(idx * 10, idx * 10 + 10), pa.int64()),
                "v": pa.array([idx] * 10, pa.int64()),
            }
        )
        p = str(src / f"f{idx:03d}.parquet")
        pq.write_table(tbl, p)
        t = 1_700_000_000 + idx
        os.utime(p, (t, t))

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return [p["numInputRows"] for p in q.recentProgress]

    for i in range(5):
        write_file(i)
    first = run_once()
    assert sum(first) == 50

    for i in range(5, 10):
        write_file(i)
    second = run_once()
    # restart resumes from the checkpoint: ONLY the 5 new files flow
    assert sum(second) == 50

    got = spark.read.parquet(sink)
    assert got.count() == 100  # no duplicates, nothing lost
    assert got.select(F.sum("k")).collect()[0][0] == sum(range(100))


def test_streaming_outer_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: matched pairs must equal
    the batch twin's exactly; NULL-extended rows may only be withheld
    for clicks whose 1h window + 2h watermark delay the final watermark
    never passed (they stay in state for the next run) — every click
    older than that must have been emitted.

    The final watermark's basis is ``min(max click ts, max purchase ts)``
    — Spark takes the MIN across both sides' EventTimeWatermark nodes,
    each of which only sees its own filtered stream — NOT the max ts of
    the whole events table.  (Round-4 red: the old bound used the
    overall max, which a late purchase dominates; the newest click then
    looked overdue even though it *defines* the click-side watermark and
    can never be evicted by it.)"""
    from pyspark.sql import functions as F

    from kachess_spark.catalog import load_table
    from kachess_spark.streaming.windows import (
        outer_join_batch,
        streaming_outer_join,
    )

    got = _run_stream(spark, streaming_outer_join(spark, sf_dir), "append")
    want = outer_join_batch(spark, sf_dir)

    got_matched = sorted(
        map(tuple, got.where(F.col("purchase_id").isNotNull()).collect())
    )
    want_matched = sorted(
        map(tuple, want.where(F.col("purchase_id").isNotNull()).collect())
    )
    assert got_matched == want_matched

    got_nulls = {
        r.click_id
        for r in got.where(F.col("purchase_id").isNull()).collect()
    }
    want_nulls = {
        r.click_id
        for r in want.where(F.col("purchase_id").isNull()).collect()
    }
    assert got_nulls <= want_nulls

    ev = load_table(spark, sf_dir, "events")
    wm_basis = min(
        ev.where(F.col("event_type") == "click")
        .agg(F.max("ts"))
        .collect()[0][0],
        ev.where(F.col("event_type") == "purchase")
        .agg(F.max("ts"))
        .collect()[0][0],
    )
    # final watermark = wm_basis - 2h delay; a click's NULL row emits
    # once l.ts + 1h window < watermark, i.e. l.ts + 3h < wm_basis
    must_emit = {
        r.event_id
        for r in ev.where(
            (F.col("event_type") == "click")
            & (
                F.col("ts") + F.expr("INTERVAL 3 HOURS")
                < F.lit(wm_basis)
            )
        ).collect()
    } & want_nulls
    assert must_emit <= got_nulls
    assert len(must_emit) > 0  # the contract bound is non-vacuous


# ---------------------------------------------------------------------------
# Restart coverage for the stateful breadth (round-4 VERDICT #6): stop
# mid-stream, restart from the same checkpoint, assert exactly-once.


def _halved_events_source(spark, sf_dir, tmp_path):
    """events split into two time-ordered parquet files under
    tmp_path/src (micros timestamps — no nanos special-casing on the
    stream read).  Returns (src_dir, schema, write_half) where
    write_half(i) lands half i; callers land 0, stream, land 1,
    stream again from the same checkpoint."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kachess_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    schema = ev.schema
    pdf = ev.toPandas().sort_values(["ts", "event_id"]).reset_index(drop=True)
    src = tmp_path / "src"
    src.mkdir()
    halves = (pdf.iloc[: len(pdf) // 2], pdf.iloc[len(pdf) // 2 :])

    def write_half(i):
        tbl = pa.Table.from_pandas(halves[i], preserve_index=False)
        idx = tbl.schema.get_field_index("ts")
        tbl = tbl.set_column(
            idx, "ts", tbl.column("ts").cast(pa.timestamp("us"))
        )
        p = str(src / f"half_{i}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    return str(src), schema, write_half


def _file_stream(spark, src_dir, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def _drain(sdf, sink, chk):
    q = (
        sdf.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)


def test_streaming_dedup_restart_exactly_once(spark, sf_dir, tmp_path):
    """dropDuplicates → windowed count across a mid-stream restart:
    the restarted run's total output must equal a single uninterrupted
    run's (nothing re-emitted, nothing lost), each window must
    finalize exactly once, and every emitted row must carry the batch
    twin's count for its window."""
    from kachess_spark.streaming.windows import (
        dedup_window_counts,
        streaming_dedup_counts,
    )

    src, schema, write_half = _halved_events_source(spark, sf_dir, tmp_path)
    sink, chk = str(tmp_path / "sink"), str(tmp_path / "chk")

    write_half(0)
    _drain(streaming_dedup_counts(spark, sf_dir, _file_stream(spark, src, schema)), sink, chk)
    write_half(1)
    _drain(streaming_dedup_counts(spark, sf_dir, _file_stream(spark, src, schema)), sink, chk)
    restarted = sorted(map(tuple, spark.read.parquet(sink).collect()))

    sink2, chk2 = str(tmp_path / "sink2"), str(tmp_path / "chk2")
    _drain(streaming_dedup_counts(spark, sf_dir, _file_stream(spark, src, schema)), sink2, chk2)
    single = sorted(map(tuple, spark.read.parquet(sink2).collect()))

    assert len(restarted) > 0
    assert restarted == single
    keys = [(r[0], r[1]) for r in restarted]
    assert len(keys) == len(set(keys))  # each window finalized once
    want = {
        (r["window_epoch"], r["event_type"]): r["n_unique"]
        for r in dedup_window_counts(spark, sf_dir).collect()
    }
    for wk, et, n in restarted:
        assert want[(wk, et)] == n


def test_streaming_outer_join_restart_exactly_once(spark, sf_dir, tmp_path):
    """Stream-stream LEFT OUTER join across a mid-stream restart: the
    restarted run must emit exactly the rows a single uninterrupted
    run emits — matched pairs and NULL-extended rows alike (join state
    survives the checkpoint round trip)."""
    from pyspark.sql import functions as F

    from kachess_spark.streaming.windows import streaming_outer_join

    src, schema, write_half = _halved_events_source(spark, sf_dir, tmp_path)
    sink, chk = str(tmp_path / "sink"), str(tmp_path / "chk")

    write_half(0)
    _drain(streaming_outer_join(spark, sf_dir, _file_stream(spark, src, schema)), sink, chk)
    write_half(1)
    _drain(streaming_outer_join(spark, sf_dir, _file_stream(spark, src, schema)), sink, chk)
    restarted = spark.read.parquet(sink)

    sink2, chk2 = str(tmp_path / "sink2"), str(tmp_path / "chk2")
    _drain(streaming_outer_join(spark, sf_dir, _file_stream(spark, src, schema)), sink2, chk2)
    single = spark.read.parquet(sink2)

    r_matched = sorted(
        map(tuple, restarted.where(F.col("purchase_id").isNotNull()).collect())
    )
    s_matched = sorted(
        map(tuple, single.where(F.col("purchase_id").isNotNull()).collect())
    )
    assert len(r_matched) > 0
    assert r_matched == s_matched
    r_nulls = sorted(
        r.click_id
        for r in restarted.where(F.col("purchase_id").isNull()).collect()
    )
    s_nulls = sorted(
        r.click_id
        for r in single.where(F.col("purchase_id").isNull()).collect()
    )
    assert r_nulls == s_nulls


def test_streaming_upsert_restart_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch upsert across a mid-stream restart: resume the same
    serving dir + checkpoint after landing the second half; the final
    serving table must equal the batch twin exactly (no double-merged
    deltas, no lost batches)."""
    from kachess_spark.streaming.windows import (
        streaming_foreach_batch_upsert,
        upsert_totals_batch,
    )

    src, schema, write_half = _halved_events_source(spark, sf_dir, tmp_path)
    state_root = str(tmp_path / "serving")

    write_half(0)
    streaming_foreach_batch_upsert(
        spark, sf_dir, _file_stream(spark, src, schema), state_root
    ).collect()
    write_half(1)
    got = streaming_foreach_batch_upsert(
        spark, sf_dir, _file_stream(spark, src, schema), state_root
    )
    want = upsert_totals_batch(spark, sf_dir)
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert len(got_rows) > 0
    assert got_rows == want_rows


def test_streaming_ingest_dedup_gate_matches_batch(spark, sf_dir):
    """The foreachBatch ingestion gate must admit exactly the docs the
    batch twin accepts, regardless of micro-batch boundaries."""
    from kachess_spark.streaming import (
        ingest_dedup_gate_batch,
        streaming_ingest_dedup_gate,
    )

    got = streaming_ingest_dedup_gate(spark, sf_dir, grow=False).toPandas()
    want = ingest_dedup_gate_batch(spark, sf_dir).toPandas()
    got = got.sort_values("doc_id").reset_index(drop=True)
    want = want.sort_values("doc_id").reset_index(drop=True)
    assert got.equals(want), (len(got), len(want))


def test_streaming_ingest_gate_restart_exactly_once(spark, sf_dir, tmp_path):
    """Ingestion gate across a mid-stream restart: drain half the
    incoming docs, resume from the same checkpoint with the second
    half present, and the admitted set must equal the batch twin
    exactly — nothing re-admitted (the per-batch overwrite sink makes
    a replayed micro-batch idempotent), nothing lost."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kachess_spark.catalog import load_table
    from kachess_spark.streaming.windows import (
        ingest_dedup_gate_batch,
        streaming_ingest_dedup_gate,
    )

    src = str(tmp_path / "docs_src")
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 1
    )
    half0 = docs.where(F.col("doc_id") % 4 == 1)
    half1 = docs.where(F.col("doc_id") % 4 == 3)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )

    def file_stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    state = str(tmp_path / "gate_state")
    half0.coalesce(1).write.mode("append").parquet(src)
    streaming_ingest_dedup_gate(spark, sf_dir, file_stream(), state, grow=False)
    half1.coalesce(1).write.mode("append").parquet(src)
    got = (
        streaming_ingest_dedup_gate(
            spark, sf_dir, file_stream(), state, grow=False
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        ingest_dedup_gate_batch(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(want), (len(got), len(want))
    assert got.doc_id.is_unique


def _bucket_files(spark, sf_dir, src, buckets):
    """Write one parquet file per gate bucket into ``src`` with strictly
    increasing mtimes, so maxFilesPerTrigger=1 yields micro-batches equal
    to the growing twin's deterministic buckets, in order."""
    import os
    import time

    from pyspark.sql import functions as F

    from kachess_spark.catalog import load_table
    from kachess_spark.streaming.windows import _GATE_N_BATCHES

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 1
    )
    os.makedirs(src, exist_ok=True)
    base = time.time() - 3600
    for k in buckets:
        pdf = docs.where(
            F.expr(f"((doc_id - 1) div 2) % {_GATE_N_BATCHES}") == k
        ).toPandas()
        path = os.path.join(src, f"bucket{k}.parquet")
        pdf.to_parquet(path, index=False)
        os.utime(path, (base + k, base + k))


def _gate_file_stream(spark, src):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


@pytest.mark.slow  # >=20 s measured; excluded from the default gate run (pytest.ini)
def test_streaming_ingest_gate_growing_matches_batch(spark, sf_dir, tmp_path):
    """With micro-batches equal to the twin's deterministic buckets (in
    order), the growing streaming gate admits exactly the docs the
    ``stream_ingest_gate_growing`` batch twin admits."""
    from kachess_spark.streaming.windows import (
        _GATE_N_BATCHES,
        ingest_gate_growing_batch,
        streaming_ingest_dedup_gate,
    )

    src = str(tmp_path / "docs_src")
    _bucket_files(spark, sf_dir, src, range(_GATE_N_BATCHES))
    got = (
        streaming_ingest_dedup_gate(
            spark, sf_dir, _gate_file_stream(spark, src),
            str(tmp_path / "state"), grow=True,
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        ingest_gate_growing_batch(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(want), (len(got), len(want))


@pytest.mark.slow  # >=20 s measured; excluded from the default gate run (pytest.ini)
def test_streaming_ingest_gate_growing_restart(spark, sf_dir, tmp_path):
    """Growing gate across a mid-stream restart: drain the first two
    buckets, resume from the same checkpoint with the rest present —
    the stored index (hist + per-batch admitted bands) replays
    idempotently and the final admitted set equals the batch twin."""
    from kachess_spark.streaming.windows import (
        _GATE_N_BATCHES,
        ingest_gate_growing_batch,
        streaming_ingest_dedup_gate,
    )

    src = str(tmp_path / "docs_src")
    state = str(tmp_path / "state")
    _bucket_files(spark, sf_dir, src, range(2))
    streaming_ingest_dedup_gate(
        spark, sf_dir, _gate_file_stream(spark, src), state, grow=True
    )
    _bucket_files(spark, sf_dir, src, range(2, _GATE_N_BATCHES))
    got = (
        streaming_ingest_dedup_gate(
            spark, sf_dir, _gate_file_stream(spark, src), state, grow=True
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        ingest_gate_growing_batch(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(want), (len(got), len(want))
    assert got.doc_id.is_unique


@pytest.mark.slow  # >=20 s measured; excluded from the default gate run (pytest.ini)
def test_streaming_ingest_gate_growing_same_batch_replay(
    spark, sf_dir, tmp_path
):
    """Crash-REPLAY of a batch whose sink+index dirs already exist
    (round-8 advice, high): foreachBatch is at-least-once — a crash
    after the batch's output dirs are written but before the offsets
    commit replays the SAME batch id on restart.  The replayed batch
    must not read its own prior index contribution (it would collide
    with its own bands, drop everything it previously admitted, and
    overwrite the dirs with the emptied set).  Simulated by deleting
    the last commit file from the checkpoint and re-running."""
    import glob
    import os

    from kachess_spark.streaming.windows import (
        _GATE_N_BATCHES,
        ingest_gate_growing_batch,
        streaming_ingest_dedup_gate,
    )

    src = str(tmp_path / "docs_src")
    state = str(tmp_path / "state")
    _bucket_files(spark, sf_dir, src, range(_GATE_N_BATCHES))
    first = (
        streaming_ingest_dedup_gate(
            spark, sf_dir, _gate_file_stream(spark, src), state, grow=True
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    # the last batch's sink + index dirs exist; roll its commit back
    commits = sorted(
        glob.glob(os.path.join(state, "_chk", "commits", "*")),
        key=lambda p: int(os.path.basename(p)),
    )
    commits = [p for p in commits if os.path.basename(p).isdigit()]
    assert commits, "expected committed micro-batches"
    replay_id = int(os.path.basename(commits[-1]))
    os.remove(commits[-1])
    # local-FS checksum shadow of the commit file: the checkpoint
    # manager writes commits via rename, which fails if the stale
    # .N.crc survives the commit file's deletion
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{replay_id}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    assert os.path.isdir(os.path.join(state, "index", f"batch={replay_id}"))
    got = (
        streaming_ingest_dedup_gate(
            spark, sf_dir, _gate_file_stream(spark, src), state, grow=True
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        ingest_gate_growing_batch(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(want), (len(got), len(want), len(first))
    assert got.equals(first)


def test_ingest_gate_empty_and_all_duplicate_streams(spark, sf_dir, tmp_path):
    """Round-7 advice fixes, locked: (a) a stream whose every incoming
    doc is a duplicate of history writes NO batch dirs — the read-back
    must return an empty frame, not raise PATH_NOT_FOUND; (b) two
    default-state_root calls in one session must not clobber each
    other (unique scratch per invocation)."""
    from pyspark.sql import functions as F

    from kachess_spark.catalog import load_table
    from kachess_spark.streaming.windows import streaming_ingest_dedup_gate

    # (a) incoming = the EVEN docs themselves -> every band collides
    # with the stored historical index -> nothing admitted, no batch=*
    src = str(tmp_path / "dup_src")
    load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % 2 == 0) & (F.size(F.split("text", " ")) >= 3)
    ).coalesce(1).write.parquet(src)
    got = streaming_ingest_dedup_gate(
        spark, sf_dir, _gate_file_stream(spark, src),
        str(tmp_path / "state_a"), grow=True,
    )
    assert got.count() == 0
    assert got.columns == ["doc_id", "source", "n_chars"]

    # (b) two default-path invocations: the first call's returned
    # (lazy) frame must still be readable after the second call runs
    r1 = streaming_ingest_dedup_gate(spark, sf_dir, grow=False)
    n1 = r1.count()
    r2 = streaming_ingest_dedup_gate(spark, sf_dir, grow=False)
    assert r2.count() == n1
    assert r1.count() == n1  # would fail if call 2 rmtree'd call 1's sink


def test_incremental_lsh_calls_do_not_clobber(spark, sf_dir):
    """Two dedup_incremental_lsh calls in one session: the first call's
    returned (lazy) frame must still read its own band store after the
    second call writes one (each call owns its store directory)."""
    from kachess_spark.pipeline.dedup import dedup_incremental_lsh

    r1 = dedup_incremental_lsh(spark, sf_dir)
    n1 = r1.count()
    r2 = dedup_incremental_lsh(spark, sf_dir)
    assert r2.count() == n1
    assert r1.count() == n1  # fails if call 2 overwrote call 1's store


def test_ingest_gate_verified_superset(spark, sf_dir):
    """The verified gate admits a SUPERSET of the collision-only gate
    (exact-Jaccard confirmation can only rescue LSH false positives,
    never drop more), and every doc it drops genuinely verifies >= tau
    against some historical doc."""
    from pyspark.sql import functions as F

    from kachess_spark.catalog import load_table
    from kachess_spark.pipeline.dedup import (
        MINHASH_VERIFY_TAU,
        _with_shingles,
    )
    from kachess_spark.streaming.windows import (
        ingest_dedup_gate_batch,
        ingest_gate_verified_batch,
    )

    plain = {r["doc_id"] for r in ingest_dedup_gate_batch(spark, sf_dir)
             .select("doc_id").collect()}
    verified = {r["doc_id"] for r in ingest_gate_verified_batch(spark, sf_dir)
                .select("doc_id").collect()}
    assert plain <= verified
    docs = load_table(spark, sf_dir, "documents")
    odd_all = {r["doc_id"] for r in docs.where(F.col("doc_id") % 2 == 1)
               .select("doc_id").collect()}
    dropped = odd_all - verified
    if dropped:
        sh = {r["doc_id"]: set(r["shingles"])
              for r in _with_shingles(docs).collect()}
        for d in dropped:
            best = max(
                (len(sh[d] & sh[e]) / len(sh[d] | sh[e])
                 for e in sh if e % 2 == 0 and e in sh),
                default=0.0,
            )
            assert best >= MINHASH_VERIFY_TAU, (d, best)


@pytest.mark.slow  # >=20 s measured; excluded from the default gate run (pytest.ini)
def test_ingest_gate_lattice(spark, sf_dir):
    """The four admission gates form a lattice: verification can only
    RESCUE docs (admit more) and index growth can only DROP more, so
    growing <= growing_verified <= verified and growing <= static <=
    verified, as admitted-sets."""
    from kachess_spark.streaming.windows import (
        ingest_dedup_gate_batch,
        ingest_gate_growing_batch,
        ingest_gate_growing_verified_batch,
        ingest_gate_verified_batch,
    )

    def ids(fn):
        return {r["doc_id"] for r in fn(spark, sf_dir).select("doc_id")
                .collect()}

    static = ids(ingest_dedup_gate_batch)
    verified = ids(ingest_gate_verified_batch)
    growing = ids(ingest_gate_growing_batch)
    gv = ids(ingest_gate_growing_verified_batch)
    assert growing <= gv <= verified
    assert growing <= static <= verified


_TEXT_HIST = "alpha beta gamma delta epsilon"
_TEXT_NEW = "red green blue cyan magenta"
# (doc_id, text, lang, source, n_chars): near-duplicate NEW docs arriving
# in different micro-batches of the growing gates
_NEW_VS_NEW_DOCS = [
    # evens = history
    (2, _TEXT_HIST, "en", "web", len(_TEXT_HIST)),
    (4, "one two three four five", "en", "web", 23),
    # odds = incoming; bucket = ((doc_id-1)/2) % 4
    (1, _TEXT_NEW, "en", "web", len(_TEXT_NEW)),  # bucket 0 — admit
    (9, _TEXT_NEW, "en", "web", len(_TEXT_NEW)),  # bucket 0 — same-batch dup of 1
    (3, _TEXT_NEW, "en", "web", len(_TEXT_NEW)),  # bucket 1 — cross-batch dup of 1
    (5, _TEXT_HIST, "en", "web", len(_TEXT_HIST)),  # bucket 2 — dup of history
    (7, "solar lunar tidal orbital vector", "en", "web", 32),  # bucket 3 — admit
]
# admitted ids per gate; the duplicates are exact copies, so verification
# (Jaccard 1.0) drops exactly what collision alone drops
_NEW_VS_NEW_ADMITTED = {"growing": [1, 7], "static": [1, 3, 7, 9]}


@pytest.mark.parametrize("verified", [False, True])
@pytest.mark.parametrize("growing", [False, True])
def test_ingest_gate_oracles_new_vs_new(growing, verified):
    """DuckDB only: the gate-oracle builder, on the new-vs-new corpus,
    admits what the growing / static gates must admit."""
    import duckdb

    from kachess_spark.streaming.windows import _gate_oracle

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO documents VALUES (?, ?, ?, ?, ?)", _NEW_VS_NEW_DOCS
    )
    got = [r[0] for r in con.execute(_gate_oracle(growing, verified)).fetchall()]
    assert got == _NEW_VS_NEW_ADMITTED["growing" if growing else "static"]


@pytest.mark.slow  # >=20 s measured; excluded from the default gate run (pytest.ini)
def test_ingest_gate_growing_catches_new_vs_new(spark, tmp_path):
    """The round-7 verdict scenario: near-duplicate NEW docs arriving in
    DIFFERENT micro-batches.  The static gates admit both; the growing
    gates admit the first and drop the second (its probe hits the index
    grown with batch 0's admitted bands), and also drop a same-batch
    later-id duplicate (keep-first-by-id).  The verified twins agree:
    every duplicate here is an exact copy."""
    import os

    import pandas as pd

    from kachess_spark.streaming.windows import (
        ingest_dedup_gate_batch,
        ingest_gate_growing_batch,
        ingest_gate_growing_verified_batch,
        ingest_gate_verified_batch,
    )

    pdf = pd.DataFrame(
        _NEW_VS_NEW_DOCS,
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf = str(tmp_path / "tiny_sf")
    os.makedirs(sf)
    pdf.to_parquet(os.path.join(sf, "documents.parquet"), index=False)

    def ids(fn):
        return sorted(r.doc_id for r in fn(spark, sf).collect())

    for fn in (ingest_gate_growing_batch, ingest_gate_growing_verified_batch):
        assert ids(fn) == _NEW_VS_NEW_ADMITTED["growing"], fn.__name__
    for fn in (ingest_dedup_gate_batch, ingest_gate_verified_batch):
        assert ids(fn) == _NEW_VS_NEW_ADMITTED["static"], fn.__name__
