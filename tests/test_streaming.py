"""Streaming pipeline: availableNow drain equals the batch computation
(Spark's unified batch/stream semantics make the batch frame the oracle)."""

import os

import pytest
from pyspark.sql import functions as F

from scholarmind_spark.streaming import (
    read_events_stream,
    run_to_memory,
    session_agg,
    stream_dedup,
    tumbling_agg,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batch_events(spark):
    from scholarmind_spark.queries import _events

    df = _events(spark, SF_DIR)
    df.cache().count()
    return df


def _canon(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_stream_equals_batch(spark, batch_events):
    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    got = run_to_memory(tumbling_agg(stream), mode="complete")
    want = tumbling_agg(batch_events)  # same fn on a batch frame
    cols = ["bucket_start", "event_type", "n_events", "total_value"]
    assert _canon(got, cols) == _canon(want, cols)


def test_session_stream_runs(spark, batch_events):
    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    got = run_to_memory(session_agg(stream, gap="30 minutes"), mode="complete")
    assert got.count() > 0
    # every (user, session) has >= 1 event and start <= end
    bad = got.filter(
        (F.col("n_events") < 1) | (F.col("session_start") > F.col("session_end"))
    ).count()
    assert bad == 0
    # session count per user matches the batch lag+running-sum sessionizer
    from scholarmind_spark.queries import events_sessionize

    want = {r["user_id"]: r["n_sessions"] for r in events_sessionize(spark, SF_DIR).collect()}
    have = {
        r["user_id"]: r["cnt"]
        for r in got.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert have == want


def test_stream_dedup_bounds_state(spark, batch_events):
    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    got = run_to_memory(stream_dedup(stream, keys=["user_id", "event_type"]), mode="append")
    # at most one surviving row per (user_id, event_type) within watermark;
    # with a single file the whole input is one microbatch, so exactly one
    n_pairs = batch_events.select("user_id", "event_type").distinct().count()
    assert got.count() == n_pairs


def test_stateful_user_stats_equals_batch(spark, batch_events):
    """applyInPandasWithState running totals: final emitted state per user
    equals the batch groupBy aggregate."""
    from pyspark.sql import functions as F

    from scholarmind_spark.streaming import read_events_stream, run_to_memory
    from scholarmind_spark.streaming.stateful import stateful_user_stats

    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    got = run_to_memory(stateful_user_stats(stream), mode="update")
    # update mode may emit once per microbatch; keep the last row per user
    final = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 4))
        for r in got.orderBy("user_id", "n_events").collect()
    }  # dict keeps the max-n_events row per user (ordered ascending)
    want = {
        r["user_id"]: (r["n"], round(r["tv"], 4))
        for r in batch_events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert final == want


def test_sliding_stream_equals_batch(spark, batch_events):
    from scholarmind_spark.streaming import read_events_stream, sliding_agg

    stream = read_events_stream(spark, SF_DIR)
    got = run_to_memory(sliding_agg(stream), mode="complete", shuffle_partitions=4)
    want = sliding_agg(batch_events)
    cols = ["bucket_start", "event_type", "n_events"]
    assert _canon(got, cols) == _canon(want, cols)


def test_stream_interval_join_equals_batch(spark, batch_events):
    from scholarmind_spark.streaming import stream_interval_join

    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    got = run_to_memory(stream_interval_join(stream), mode="append")
    want = stream_interval_join(batch_events)  # same fn on a batch frame
    cols = ["user_id", "left_id", "right_id", "lag_us"]
    assert _canon(got, cols) == _canon(want, cols)
    # every lag respects the interval bound
    assert got.filter((F.col("lag_us") < 0) | (F.col("lag_us") > 14_400_000_000)).count() == 0


def test_stateful_anomaly_equals_batch(spark, batch_events):
    """Streaming trailing-window z-score (applyInPandasWithState) emits
    exactly the batch operator's rows — same integer predicate, same
    window contents."""
    from scholarmind_spark.operators.anomaly import rolling_anomalies
    from scholarmind_spark.streaming import read_events_stream, run_to_memory
    from scholarmind_spark.streaming.stateful import stateful_anomaly

    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    got = _canon(
        run_to_memory(stateful_anomaly(stream), mode="update"),
        ["key", "event_id", "x_milli", "n", "mean_milli", "anomaly"],
    )
    want = _canon(
        rolling_anomalies(batch_events),
        ["key", "event_id", "x_milli", "n", "mean_milli", "anomaly"],
    )
    assert got == want and len(got) > 0


def test_duration_ms():
    from scholarmind_spark.streaming.stateful import duration_ms

    assert duration_ms("30 minutes") == 1_800_000
    assert duration_ms("1 hour") == 3_600_000
    assert duration_ms("500 milliseconds") == 500
    with pytest.raises(ValueError):
        duration_ms("soon")


def test_stateful_idle_timeout_evicts_state(spark, tmp_path):
    """idle_timeout must evict a key idle past the horizon RELATIVE TO ITS
    LAST EVENT — and must NOT evict a key whose idleness is within the
    horizon.  (r5 bug: EventTimeTimeout was selected with no watermark and
    no setTimeoutTimestamp — the query would fail at start and hasTimedOut
    was dead code.  r6 bug: the first fix armed from the CURRENT WATERMARK,
    which is 0 in batch 1, so batch-1-only keys were evicted the moment the
    watermark first advanced, regardless of the horizon.)

    Timeline (horizon 30 min; watermark for batch N = prior max ts − 30 min,
    and a timer only fires in a batch where the key has NO data):
      f1 12:00 u1+u2  → u2 armed for 12:30
      f2 14:00 u1     → wm 11:30 < 12:30: u2 survives
      f3 16:00 u1     → wm 13:30 > 12:30: u2 EVICTED (idle, timer fires)
      f4 16:30 u1+u2  → u2 restarts at 1
    u1 is touched every batch so its count reaches 4 — which also proves
    no premature eviction: under watermark-based arming u1 would still
    survive, but u2 would have been dropped between f1 and f2."""
    import os
    import time

    from scholarmind_spark.streaming.stateful import stateful_user_stats

    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(rows, "user_id long, ts string, value double")
        df = df.withColumn("ts", F.to_timestamp("ts")).coalesce(1)
        p = str(src / name)
        df.write.mode("overwrite").parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    base = time.time() - 1000
    write_file("f1", [(1, "2024-01-01 12:00:00", 1.0),
                      (2, "2024-01-01 12:00:00", 1.0)], base)
    write_file("f2", [(1, "2024-01-01 14:00:00", 1.0)], base + 10)
    write_file("f3", [(1, "2024-01-01 16:00:00", 1.0)], base + 20)
    write_file("f4", [(1, "2024-01-01 16:30:00", 1.0),
                      (2, "2024-01-01 16:30:00", 1.0)], base + 30)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    got = run_to_memory(
        stateful_user_stats(stream, idle_timeout="30 minutes"), mode="update"
    )
    n_by_user = {}
    for r in got.collect():
        n_by_user.setdefault(r.user_id, []).append(r.n_events)
    # user 1 was touched every batch and never evicted: count reaches 4
    assert max(n_by_user[1]) == 4
    # user 2's state was evicted while idle: count restarts at 1, never 2
    assert max(n_by_user[2]) == 1 and len(n_by_user[2]) == 2


def test_stateful_anomaly_accepts_idle_timeout(spark, batch_events):
    """The idle_timeout path must start cleanly (watermark + timeout set)
    and still reproduce the batch answer on a drained stream."""
    from scholarmind_spark.operators.anomaly import rolling_anomalies
    from scholarmind_spark.streaming.stateful import stateful_anomaly

    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    got = _canon(
        run_to_memory(stateful_anomaly(stream, idle_timeout="1 hour"), mode="update"),
        ["key", "event_id", "x_milli", "n", "mean_milli", "anomaly"],
    )
    want = _canon(
        rolling_anomalies(batch_events),
        ["key", "event_id", "x_milli", "n", "mean_milli", "anomaly"],
    )
    assert got == want and len(got) > 0


def test_ohlc_stream_equals_batch(spark, batch_events):
    """The streaming OHLC bars drain to exactly the batch operator's
    rows (same sort key, quantization, and aggregates — Spark's unified
    semantics make the batch frame the oracle)."""
    from scholarmind_spark.operators.bars import time_bars
    from scholarmind_spark.streaming import ohlc_bars_agg, read_events_stream
    from scholarmind_spark.streaming.pipeline import run_to_memory

    stream = read_events_stream(spark, f"{SF_DIR}/events.parquet")
    got = run_to_memory(ohlc_bars_agg(stream, width="1 hour"), mode="complete")
    want = time_bars(batch_events, width_seconds=3600)
    cols = ["bucket_start", "n_events", "open_milli", "high_milli",
            "low_milli", "close_milli", "sum_milli"]
    assert _canon(got, cols) == _canon(want, cols) and got.count() > 0


def test_append_agg_drain_emits_closed_windows(spark, batch_events, tmp_path):
    """An append-mode windowed aggregation emits a window only once the
    watermark passes it, which for a finite drain happens in the final
    no-data microbatch.  run_to_memory turns that batch on for this shape
    by itself, so a 4-file drain (one microbatch per file, in event-time
    order) returns exactly the batch rows whose 5-minute window the final
    10-minute watermark has closed: 986 of 987.  Skipping the batch
    returned 737."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/events.parquet").sort_by("ts")
    cuts = [i * t.num_rows // 4 for i in range(5)]
    for i in range(4):
        part = str(tmp_path / f"part-{i}.parquet")
        pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), part)
        # the file source orders files by modification time
        os.utime(part, ns=(10**18 + i * 10**9,) * 2)
    stream = read_events_stream(spark, str(tmp_path), max_files_per_trigger=1)
    got = run_to_memory(tumbling_agg(stream), mode="append")
    watermark = batch_events.agg(F.unix_timestamp(F.max("ts"))).first()[0] - 600
    want = tumbling_agg(batch_events).where(F.col("bucket_start") + 300 <= watermark)
    cols = ["bucket_start", "event_type", "n_events", "total_value"]
    assert _canon(got, cols) == _canon(want, cols)
    assert got.count() == 986


def test_schema_memo_sees_rewritten_probe(spark, tmp_path):
    """Rewriting the probed parquet under the same path within one
    session re-probes its schema: the memo key carries the file's mtime
    and size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/events.parquet").slice(0, 10)
    path = str(tmp_path / "events.parquet")
    pq.write_table(t, path)
    assert "extra" not in read_events_stream(spark, path).columns
    pq.write_table(t.append_column("extra", pa.array(range(10), pa.int64())), path)
    assert "extra" in read_events_stream(spark, path).columns
