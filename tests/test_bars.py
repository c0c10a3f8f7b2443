"""OHLC time bars and per-group KMV: determinism, tiebreaks, parity."""

import datetime as dt

import duckdb
import pytest
from pyspark.sql import functions as F

from scholarmind_spark.operators.bars import time_bars, time_bars_sql
from scholarmind_spark.operators.sketch import kmv_distinct_by_group_sql
from scholarmind_spark.operators.sketchledger import (
    kmv_state_build,
    kmv_state_estimate,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _rows():
    return [
        # bucket 0 (hour 0): open=1.5 (earliest), close=9.0 (latest);
        # two events share ts 00:10 — id tiebreak decides
        (1, T0 + dt.timedelta(minutes=5), 1.5),
        (3, T0 + dt.timedelta(minutes=10), -4.25),
        (2, T0 + dt.timedelta(minutes=10), 7.0),
        (4, T0 + dt.timedelta(minutes=50), 9.0),
        # bucket 1: single event
        (5, T0 + dt.timedelta(hours=1, minutes=1), 2.0),
        # dropped: non-finite + null value
        (6, T0 + dt.timedelta(minutes=30), float("nan")),
        (7, T0 + dt.timedelta(minutes=30), None),
    ]


def test_ohlc_values_and_tiebreak(spark):
    df = spark.createDataFrame(_rows(), "event_id int, ts timestamp, value double")
    out = {r["bucket_start"]: r for r in
           time_bars(df, width_seconds=3600).collect()}
    b0 = out[int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600 * 3600]
    assert b0["n_events"] == 4
    assert b0["open_milli"] == 1500 and b0["close_milli"] == 9000
    assert b0["high_milli"] == 9000 and b0["low_milli"] == -4250
    assert b0["sum_milli"] == 1500 - 4250 + 7000 + 9000
    # ts-tie at 00:10: id 2 ranks before id 3, affecting nothing here —
    # make the tiebreak observable with a bucket whose OPEN is tied
    tied = spark.createDataFrame(
        [(9, T0, 5.0), (8, T0, 3.0)], "event_id int, ts timestamp, value double"
    )
    b = time_bars(tied, width_seconds=3600).collect()[0]
    assert b["open_milli"] == 3000 and b["close_milli"] == 5000  # id 8 first


def test_time_bars_duckdb_twin(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, "event_id int, ts timestamp, value double")
    got = sorted(tuple(r) for r in time_bars(df, width_seconds=1800).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_id INT, ts TIMESTAMP, value DOUBLE)")
    con.executemany("INSERT INTO events VALUES (?,?,?)", rows)
    oracle = sorted(
        con.execute(
            "SELECT * FROM " + time_bars_sql("events", width_seconds=1800)
        ).fetchall()
    )
    assert got == oracle and len(got) >= 2


def test_bar_sort_key_tz_free_across_dst_fold(spark):
    """The (ts, id) key is built from epoch micros, so it stays strictly
    monotonic across a DST fall-back fold even in a session that does
    NOT pin UTC (a local wall-clock rendering would alias the two
    instants and the open/close tiebreak would silently take over)."""
    from scholarmind_spark.operators.bars import bar_sort_key

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # 2024-11-03: 01:30 EDT and 01:30 EST render identically local,
        # but are distinct instants one hour apart
        df = spark.createDataFrame(
            [(1, 1730611800), (2, 1730615400)], "event_id int, epoch_s long"
        ).select("event_id", F.timestamp_seconds("epoch_s").alias("ts"))
        keys = {
            r["event_id"]: r["k"]
            for r in df.select(
                "event_id", bar_sort_key("ts", "event_id").alias("k")
            ).collect()
        }
        assert keys[1] < keys[2]
        # and the key requires id >= 0: the event fixtures satisfy it
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        assert ev.agg(F.min("event_id")).collect()[0][0] >= 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_ohlc_stream_drops_null_ts(spark):
    """ohlc_bars_agg must mirror the batch NULL-timestamp drop: a NULL
    ts event never forms a NULL window group (ADVICE r9)."""
    from scholarmind_spark.streaming.pipeline import ohlc_bars_agg

    df = spark.createDataFrame(
        [(1, T0, 2.0), (2, None, 5.0)], "event_id int, ts timestamp, value double"
    )
    # exercise the same projection/filter chain in batch mode (the
    # stream==batch equality test covers the streaming drain;
    # withWatermark is a no-op on a batch frame)
    out = ohlc_bars_agg(df).collect()
    assert len(out) == 1 and out[0]["n_events"] == 1


def test_time_bars_validation(spark):
    df = spark.createDataFrame([], "event_id int, ts timestamp, value double")
    with pytest.raises(ValueError):
        time_bars(df, width_seconds=0)
    with pytest.raises(ValueError):
        time_bars_sql("events", width_seconds=0)


def test_bar_sort_key_rejects_pre_epoch_and_bad_ids(spark):
    """The runtime guard (ADVICE r10): a pre-1970 timestamp or an id
    outside [0, 10^19) must raise instead of silently corrupting the
    fixed-width lexicographic order (negative micros render a '-';
    an oversized id is lpad-TRUNCATED); NULL ts/id still pass through
    as a NULL key."""
    import pyspark.errors

    pre = spark.createDataFrame(
        [(1, dt.datetime(1969, 12, 31, 23, 59, 59), 1.0)],
        "event_id long, ts timestamp, value double",
    )
    with pytest.raises(Exception, match="bar_sort_key"):
        time_bars(pre).collect()

    neg_id = spark.createDataFrame(
        [(-1, T0, 1.0)], "event_id long, ts timestamp, value double"
    )
    with pytest.raises(Exception, match="bar_sort_key"):
        time_bars(neg_id).collect()

    wide_id = spark.createDataFrame(
        [("12345678901234567890", T0, 1.0)],
        "event_id string, ts timestamp, value double",
    )
    with pytest.raises(Exception, match="bar_sort_key"):
        time_bars(wide_id).collect()

    # NULL ts / NULL id rows survive the guard (and are filtered or
    # keyed downstream exactly as before)
    nulls = spark.createDataFrame(
        [(1, None, 1.0), (None, T0, 2.0), (2, T0, 3.0)],
        "event_id long, ts timestamp, value double",
    )
    out = time_bars(nulls).collect()
    assert len(out) == 1 and out[0]["n_events"] == 2


def test_kmv_by_group_exact_below_k_and_twin(spark):
    rows = [(g, f"u{i % n}") for g, n in [("a", 10), ("b", 40)] for i in range(200)]
    df = spark.createDataFrame(rows, "grp string, v string")
    got = {r["grp"]: r for r in
           kmv_state_estimate(kmv_state_build(df, ["grp"], "v", k=64), k=64).collect()}
    # below k: the estimate is EXACT (n_min < k branch)
    assert got["a"]["est_distinct"] == 10 and got["a"]["n_minima"] == 10
    assert got["b"]["est_distinct"] == 40

    con = duckdb.connect()
    con.execute("CREATE TABLE t (grp VARCHAR, v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    q = kmv_distinct_by_group_sql("SELECT grp, v FROM t", k=64)
    oracle = sorted(con.execute(f"SELECT * FROM {q}").fetchall())
    sketch = kmv_state_build(df, ["grp"], "v", k=64)
    assert sorted(tuple(r) for r in
                  kmv_state_estimate(sketch, k=64).collect()) == oracle



def test_kmv_by_group_default_k_matches_twin(spark):
    """Builder, estimator and DuckDB twin share one default ``k``: above
    that k the defaults-only Spark estimate equals the twin's."""
    rows = [("big", f"user-{i}") for i in range(600)] + [("small", "x")]
    df = spark.createDataFrame(rows, "grp string, v string")
    sketch = kmv_state_build(df, ["grp"], "v")
    got = sorted(tuple(r) for r in kmv_state_estimate(sketch).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (grp VARCHAR, v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    q = kmv_distinct_by_group_sql("SELECT grp, v FROM t")
    assert got == sorted(con.execute(f"SELECT * FROM {q}").fetchall())

def test_kmv_by_group_estimates_above_k(spark):
    rows = [("big", f"user-{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "grp string, v string")
    r = kmv_state_estimate(kmv_state_build(df, ["grp"], "v", k=128), k=128).collect()[0]
    assert r["n_minima"] == 128
    # KMV standard error ~ 1/sqrt(k-1) ≈ 9% at k=128; allow 3 sigma
    assert abs(r["est_distinct"] - 2000) < 2000 * 0.27


def test_kmv_by_group_null_group_kept_null_value_dropped(spark):
    rows = [(None, "x"), (None, "y"), ("g", None), ("g", "z")]
    df = spark.createDataFrame(rows, "grp string, v string")
    got = {r["grp"]: r["est_distinct"] for r in
           kmv_state_estimate(kmv_state_build(df, ["grp"], "v", k=8), k=8).collect()}
    assert got == {None: 2, "g": 1}
