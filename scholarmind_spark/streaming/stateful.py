"""Custom stateful streaming operator via ``applyInPandasWithState``
(engine extension — the escape hatch for semantics the built-in windowed
aggregations can't express; reference has no streaming at all, SURVEY §2.9).

``stateful_user_stats`` keeps one state row per user — running event count,
running value sum, last-seen timestamp — and emits the updated totals for
each user touched by a microbatch.  This is the shape of per-entity
running aggregates (fraud counters, per-user quotas, feature freshness)
where the emitted row must reflect ALL events so far, not just a window.

Scale posture: state lives in the state store keyed by user_id (one row
per user, shuffled by key — skew on hot users is bounded by the tiny
per-key state size); the Python hook receives Arrow batches per key.  A
watermark-driven timeout (``idle_timeout``) evicts users idle longer than
the horizon so state stays bounded on an unbounded stream.
"""

from __future__ import annotations

from collections import deque
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        # running sum in integer MICRO units: a float running sum would be
        # pairwise-accumulated by pandas while the oracle sums sequentially
        # — last-ulp drift that a 6-dp round can't always absorb.  Values
        # are micro-quantized per row with floor(v*1e6 + 0.5) (identical
        # IEEE ops on both engines, non-negative values), summed as int64.
        StructField("total_micro", LongType()),
        StructField("last_seen_us", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_seen_us", LongType()),
    ]
)


def _ts_max_us(ts: pd.Series) -> int:
    """Max of a timestamp column as epoch MICROSECONDS, unit-explicit.

    Arrow→pandas may deliver datetime64[ns] or datetime64[us] depending on
    the pandas/pyarrow pairing (and tz-aware if the column is a zoned
    timestamp) — converting through ``datetime64[us]`` pins the unit instead
    of assuming one and magic-dividing, which is how a ms-vs-µs bug slips in.
    """
    if getattr(ts.dtype, "tz", None) is not None:
        ts = ts.dt.tz_localize(None)
    if ts.dtype.kind == "M":
        return int(ts.astype("datetime64[us]").astype("int64").max())
    return int(ts.astype("int64").max())  # already integral micros


_DURATION_UNITS_MS = {
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def duration_ms(s: str) -> int:
    """Parse a Spark-style interval string (``'30 minutes'``, ``'1 hour'``)
    to milliseconds — the unit ``GroupState.setTimeoutTimestamp`` takes."""
    parts = s.strip().lower().split()
    if len(parts) != 2:
        raise ValueError(f"expected '<n> <unit>', got {s!r}")
    n, unit = parts
    unit = unit.rstrip("s")
    if unit not in _DURATION_UNITS_MS:
        raise ValueError(f"unknown duration unit in {s!r}")
    return int(float(n) * _DURATION_UNITS_MS[unit])


def _user_stats_update_factory(timeout_ms: int | None):
    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle horizon passed: emit nothing, drop the state row
            state.remove()
            return
        n, total, last = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # exact integer micro accumulation (see STATE_SCHEMA note);
            # np.floor(x + 0.5) matches the oracle's floor(value*1e6 + 0.5)
            v = pdf["value"].to_numpy(dtype="float64")
            total += int(np.floor(v * 1_000_000.0 + 0.5).astype("int64").sum())
            last = max(last, _ts_max_us(pdf["ts"]))
        state.update((n, total, last))
        if timeout_ms is not None:
            # Re-arm from the key's LAST EVENT TIME, not the watermark:
            # during the first microbatch the watermark is still 0, so
            # (watermark + horizon) would mark batch-1-only keys for
            # eviction the moment the watermark first advances — wiping
            # cumulative state after one minute of idleness regardless of
            # the configured horizon.  last_event + horizon is the actual
            # idle definition; clamp above the watermark because Spark
            # rejects timeout timestamps at or before it (a key whose
            # horizon already passed evicts at the next watermark tick).
            state.setTimeoutTimestamp(
                max(last // 1000 + timeout_ms, state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                # exact int ÷ exact power of ten: one IEEE division, the
                # same double the oracle's sum(...)::BIGINT / 1000000.0 makes
                "total_value": [total / 1_000_000.0],
                "last_seen_us": [last],
            }
        )

    return _update


ANOMALY_STATE_SCHEMA = StructType(
    [StructField("recent", ArrayType(LongType()))]
)

ANOMALY_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("event_id", LongType()),
        StructField("x_milli", LongType()),
        StructField("n", LongType()),
        StructField("mean_milli", LongType()),
        StructField("anomaly", BooleanType()),
    ]
)


def _trunc_div(a: int, b: int) -> int:
    # Spark `div` and DuckDB `//` both truncate toward zero; Python //
    # floors — pin truncation explicitly so negative sums can't diverge
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _anomaly_update_factory(
    window: int, min_n: int, z: int, timeout_ms: int | None = None
):
    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (recent,) = state.get if state.exists else ([],)
        recent = deque(int(r) for r in recent)
        # running Σx / Σx² over the trailing window, updated on append/
        # evict (Python ints — exact): the old per-row re-sum was
        # O(window) per event, 10× the arithmetic for the same numbers
        s = sum(recent)
        q = sum(r * r for r in recent)
        last_us = 0
        out: dict[str, list] = {c: [] for c in
                                ("key", "event_id", "x_milli", "n",
                                 "mean_milli", "anomaly")}
        z2 = z * z
        for pdf in pdfs:
            last_us = max(last_us, _ts_max_us(pdf["ts"]))
            # event-time order within the batch: state semantics must not
            # depend on Arrow chunk arrival order
            pdf = pdf.sort_values(["ts", "event_id"])
            # numpy scalars iterate ~3× faster than pandas Series items
            for v, eid in zip(
                pdf["value"].to_numpy(), pdf["event_id"].to_numpy()
            ):
                x = float(v) * 1000.0
                # HALF_UP like both engines' round(); Python round() is
                # banker's and would diverge on exact halves
                xi = int(x + 0.5) if x >= 0 else -int(-x + 0.5)
                n = len(recent)
                if n >= min_n:
                    dev = n * xi - s
                    out["key"].append(key[0])
                    out["event_id"].append(int(eid))
                    out["x_milli"].append(xi)
                    out["n"].append(n)
                    out["mean_milli"].append(_trunc_div(s, n))
                    out["anomaly"].append(
                        n * dev * dev > z2 * (n * q - s * s)
                    )
                recent.append(xi)
                s += xi
                q += xi * xi
                if len(recent) > window:
                    e = recent.popleft()
                    s -= e
                    q -= e * e
        state.update((list(recent),))
        if timeout_ms is not None:
            # last-event + horizon, clamped above the watermark — see
            # _user_stats_update_factory on why NOT watermark + horizon
            state.setTimeoutTimestamp(
                max(last_us // 1000 + timeout_ms,
                    state.getCurrentWatermarkMs() + 1)
            )
        if out["key"]:
            yield pd.DataFrame(out)

    return _update


def stateful_anomaly(
    events: DataFrame,
    window: int = 10,
    min_n: int = 5,
    z: int = 3,
    idle_timeout: str | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.anomaly.rolling_anomalies``: the
    trailing-window z-score flag as a custom stateful operator.

    State per user is just the last ``window`` milli-quantized values
    (int64 array — O(window) bytes per key, evictable via the event-time
    timeout), and the flag math is the same cleared-form all-integer
    predicate as the batch operator, so a drained stream reproduces the
    batch answer exactly — the oracle for both IS the batch SQL twin.
    Rows are processed in (ts, event_id) event-time order within each
    microbatch; cross-batch ordering follows file/trigger order, which
    the availableNow gate harness pins to a single batch.

    ``idle_timeout`` (e.g. ``'30 minutes'``) bounds state on an unbounded
    stream: an event-time watermark is applied to ``ts`` and every touch
    re-arms the key's timeout to (last event time + horizon), so keys idle
    past
    the horizon are evicted (EventTimeTimeout requires the watermark)."""
    timeout_ms = None
    if idle_timeout:
        events = events.withWatermark("ts", idle_timeout)
        timeout_ms = duration_ms(idle_timeout)
    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if idle_timeout
        else GroupStateTimeout.NoTimeout
    )
    grouped = events.select("user_id", "ts", "event_id", "value").groupBy(
        "user_id"
    )
    return grouped.applyInPandasWithState(
        _anomaly_update_factory(window, min_n, z, timeout_ms),
        ANOMALY_OUTPUT_SCHEMA,
        ANOMALY_STATE_SCHEMA,
        "update",
        timeout,
    )


def stateful_user_stats(events: DataFrame, idle_timeout: str | None = None) -> DataFrame:
    """Per-user running totals as a custom stateful operator.

    ``events`` must have columns ``user_id, ts (timestamp), value``; works
    on a stream (true incremental state) and, via Spark's unified
    semantics, on a batch frame for testing.

    ``idle_timeout`` (e.g. ``'30 minutes'``): applies an event-time
    watermark on ``ts`` and re-arms each key's timeout to
    (last event time + horizon) on every touch, so idle keys are evicted and
    state stays bounded (EventTimeTimeout requires the watermark)."""
    timeout_ms = None
    if idle_timeout:
        events = events.withWatermark("ts", idle_timeout)
        timeout_ms = duration_ms(idle_timeout)
    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if idle_timeout
        else GroupStateTimeout.NoTimeout
    )
    grouped = events.select("user_id", "ts", "value").groupBy("user_id")
    return grouped.applyInPandasWithState(
        _user_stats_update_factory(timeout_ms),
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        timeout,
    )
