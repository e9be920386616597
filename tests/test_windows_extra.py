"""Hand-built fixtures for window operators whose corpus behavior is
degenerate (round-4 ADVICE: all-positive events made every drawdown 0,
so oracle parity could not distinguish a correct peak/trough from a
sign-bugged one).  These tests pin known nonzero answers."""

from __future__ import annotations

import datetime

import pytest


def _write_events(spark, tmp_path, rows):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_drawdown_nonzero_hand_case(spark, tmp_path):
    """Signed stream (odd event_id = outflow) with a known drawdown:
    +10.0 −4.0 +2.0 −7.0 +50.0 → balances 1e4-scaled
    100000, 60000, 80000, 10000, 510000; running peak 100000 until the
    last row; max drawdown 90000; final peak 510000."""
    from kachess_spark.operators.windows import win_drawdown_max

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i, 1, t0 + datetime.timedelta(minutes=i), "click", v)
        for i, v in enumerate([10.0, 4.0, 2.0, 7.0, 50.0])
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = win_drawdown_max(spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert r.user_id == 1
    assert r.max_drawdown_scaled == 90000
    assert r.peak_scaled == 510000


def test_drawdown_corpus_is_nonvacuous(spark, sf_dir):
    """The signed-delta rewrite must actually exercise the nonzero
    path on the driver corpus: at least half the users should have a
    strictly positive max drawdown (alternating signs guarantee dips)."""
    from pyspark.sql import functions as F

    from kachess_spark.operators.windows import win_drawdown_max

    got = win_drawdown_max(spark, sf_dir)
    total = got.count()
    nonzero = got.where(F.col("max_drawdown_scaled") > 0).count()
    assert total > 0
    assert nonzero >= total // 2


def test_session_gap_uses_fractional_seconds(spark, tmp_path):
    """stream_session_stats splits a session where the gap exceeds
    1800 s to the microsecond, as its DuckDB oracle's epoch(ts) does:
    gaps of exactly 1800 s stay in the session, 1800.5 s and 1801 s
    start a new one.  Whole-second unix_timestamp differences read the
    1800.5 s gaps as 1800 and merged those sessions."""
    import duckdb

    from kachess_spark.streaming.windows import (
        _SESSION_ORACLE,
        session_window_stats,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    s = datetime.timedelta(seconds=1)
    user1 = [t0, t0 + 1800 * s, t0 + 3600.5 * s, t0 + 5401.5 * s]
    user2 = [t0 + 0.25 * s, t0 + 1800.75 * s]  # 1800.5 s across a second
    rows = [
        (i, u, ts, "click", float(i + 1))
        for i, (u, ts) in enumerate(
            [(1, ts) for ts in user1] + [(2, ts) for ts in user2]
        )
    ]
    sf = _write_events(spark, tmp_path, rows)

    got = [
        tuple(r)
        for r in session_window_stats(spark, sf)
        .select("user_id", "session_no", "n_events", "session_value")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{sf}/events.parquet/*.parquet')"
    )
    want = [
        tuple(r)
        for r in con.execute(
            "SELECT user_id, session_no, n_events, session_value"
            f" FROM ({_SESSION_ORACLE}) ORDER BY 1, 2"
        ).fetchall()
    ]
    con.close()
    assert got == want
    assert [(u, n) for u, _, n, _ in got] == [
        (1, 2), (1, 1), (1, 1), (2, 1), (2, 1)
    ]
