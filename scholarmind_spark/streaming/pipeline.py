"""Structured Streaming over the events stream (engine extension).

The reference is strictly batch (SURVEY §2.9) — these operators are the
Spark-native streaming surface a production deployment of the same pipeline
needs: windowed aggregation with watermarked late-data handling,
sessionization, and the streaming analogue of the A1 dedup
(``dropDuplicatesWithinWatermark``).

Scale posture:
- File source with ``maxFilesPerTrigger`` caps per-microbatch work; on a
  real deployment the source is Kafka with the same downstream plan.
- Watermarks bound state: tumbling/sliding windows evict closed windows,
  session state evicts after gap+watermark, dedup state evicts keys older
  than the watermark.  Without them, 100 TB/day of events grows state
  unboundedly.
- All aggregations are built-in (JVM, partial-agg before shuffle); keys are
  (window, event_type) or (user_id) — skew on hot users is handled by AQE
  in batch backfills and by state-store partitioning (``shuffle.partitions``)
  in streaming.

Every transformation here takes/returns DataFrames and works identically on
a batch frame (Spark's unified semantics), which is how the tests prove the
streaming results equal the batch oracle.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import tempfile
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scholarmind_spark.operators.bloom import DEFAULT_HASHES, DEFAULT_M_WORDS
from scholarmind_spark.operators.sketch import DEFAULT_K
from scholarmind_spark.streaming.state import (
    SKIP, chain_dirs, commit_mor, fold_gate, has_parquet, read_manifest,
    read_sidecar, recover_swap, rename_swap, start_fold_stream, version_dir,
    write_marker, write_sidecar,
)

# session -> {probe path: (file stamp, analyzed schema)}; weak on the
# session, so a stopped one is not kept alive.  See read_events_stream.
_SCHEMA_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream over events parquet; ``ts`` normalized to a real
    timestamp. Swap for Kafka in production — downstream plans unchanged.

    The driver writes ``ts`` as parquet TIMESTAMP(NANOS).  What the runtime
    decodes it as depends on the Spark version: older 4.x honored
    ``spark.sql.legacy.parquet.nanosAsLong`` (→ bigint nanos), current 4.1
    reads it as ``timestamp_ntz`` truncated to micros.  A stream needs an
    explicit schema, so probe with a batch footer read (metadata only, no
    data scan) and branch on the OBSERVED dtype — the same guard the batch
    path applies in ``queries._events``.  Hard-coding either assumption is
    exactly the unit bug that collapses every window 1000×.
    """
    # FileStreamSource requires a directory; wrap a lone file in a temp dir
    # of symlinks (testdata is read-only, so no copy).  The wrapper dir is
    # REUSED per (process, source path) — a fresh mkdtemp per call leaked
    # one directory per battery/bench rep for the life of the machine.
    if os.path.isfile(path):
        import hashlib

        from scholarmind_spark.util import proc_tmp_dir

        tag = hashlib.md5(path.encode()).hexdigest()[:8]
        # fixed name under the per-process 0700 mkdtemp base (not a bare
        # predictable /tmp/evstream_<pid>_<tag>, which another local user
        # could pre-create or symlink)
        d = proc_tmp_dir(f"evstream_{tag}")
        link = os.path.join(d, os.path.basename(path))
        if not os.path.lexists(link):
            os.symlink(path, link)
        path = d
    # Probe the events schema. A watched dir may hold OTHER tables too
    # (the stream reads them null-filled, and null-ts rows drop at the
    # window) — probe the events file specifically so the forced schema is
    # the events one, not whichever file the batch reader lists first.
    probe = path
    if os.path.isdir(path) and os.path.exists(os.path.join(path, "events.parquet")):
        probe = os.path.join(path, "events.parquet")
    # Schema-probe memo (round 16): the footer read rebuilds a file index
    # per call — pure driver-side construction cost, re-paid by every
    # stream gate and bench rep (guide §6, file-listing caches).  The
    # stamp (mtime and size of the probe file, or of each entry of a
    # probed directory) makes a rewrite under the same path probe afresh.
    paths = [probe] if os.path.isfile(probe) else [
        os.path.join(probe, f) for f in sorted(os.listdir(probe))
    ]
    stamp = tuple((s.st_mtime_ns, s.st_size) for s in map(os.stat, paths))
    memo = _SCHEMA_MEMO.setdefault(spark, {})
    hit = memo.get(probe)
    if hit is None or hit[0] != stamp:
        hit = memo[probe] = (stamp, spark.read.parquet(probe).schema)
    raw = (
        spark.readStream.schema(hit[1])
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":  # nanos-as-long runtime: ns → µs → timestamp
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Watermarks require TIMESTAMP (an instant), and EVERY ntz→timestamp
        # CAST — to_utc_timestamp included — first goes through
        # ``spark.sql.session.timeZone`` (measured: under a New-York session
        # TZ the instant shifts +5 h and every window bucket moves).  The
        # on-disk wall-clock is UTC, so build the instant with arithmetic
        # the session zone cannot touch: timestampdiff between two NTZ
        # operands is pure wall-clock math, and timestamp_micros constructs
        # the instant straight from epoch micros.  (An earlier version
        # repinned spark.sql.session.timeZone here instead — a hidden
        # mutation of shared session state that broke callers doing
        # local-timezone work after building a reader.)
        raw = raw.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
            ),
        )
    return raw


def tumbling_agg(
    events: DataFrame, width: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window count/sum per event_type with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.unix_timestamp("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_agg(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window event counts (each event lands in width/slide windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
        )
    )


def ohlc_bars_agg(
    events: DataFrame, width: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming twin of ``operators.bars.time_bars``: OHLC + count/sum
    bars per tumbling window, sharing the batch builder's sort key,
    quantization, and aggregate expressions — so an availableNow drain
    over the same rows equals the batch operator exactly (pinned by
    ``test_streaming.test_ohlc_stream_equals_batch``).  Window origin is
    epoch 0, matching the batch integer-epoch-division bucketing for
    widths that divide a day."""
    from scholarmind_spark.operators.bars import (
        bar_aggs,
        bar_sort_key,
        bar_value_milli,
    )

    return (
        events.withWatermark("ts", watermark)
        # mirror the batch twin's NULL-timestamp drop (time_bars filters
        # b.isNotNull()): a NULL ts must not form a NULL window group
        .where(F.col("ts").isNotNull())
        .select(
            F.window("ts", width).alias("w"),
            bar_sort_key("ts", "event_id").alias("sk"),
            bar_value_milli("value").alias("vm"),
        )
        .where(F.col("vm").isNotNull())
        .groupBy("w")
        .agg(*bar_aggs())
        .select(
            F.unix_timestamp("w.start").alias("bucket_start"),
            F.col("n_events").cast("bigint"),
            "open_milli",
            "high_milli",
            "low_milli",
            "close_milli",
            "sum_milli",
        )
    )


def session_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity (streaming analogue of the lag+running-sum batch
    sessionization in queries.events_sessionize)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            F.unix_timestamp("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming A1 analogue: first-seen-wins per key within the watermark
    horizon (``dropDuplicatesWithinWatermark`` — state evicts keys older
    than the watermark, so memory is bounded no matter the stream size)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_static_enrich(
    events: DataFrame, dim: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Stream-static enrich: stateless left join of the event stream
    against a batch dimension (the streaming J1 analogue — journal
    metrics for literature, user/account attributes here).

    Stream-static joins keep NO state: each microbatch joins against
    the dimension as of that batch, so the dimension may be re-read /
    refreshed between triggers (slowly-changing enrichment for free).
    The broadcast hint keeps the stream side shuffle-free — at 100 TB
    of stream this is the difference between a map-side lookup and
    re-partitioning every microbatch.  Append mode; no watermark is
    needed because nothing is buffered."""
    return events.join(F.broadcast(dim), key, "left")


def stream_interval_join(
    events: DataFrame,
    left_type: str = "view",
    right_type: str = "click",
    key: str = "user_id",
    horizon: str = "4 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval bound: every
    ``left_type`` event joined to the same key's ``right_type`` events
    that follow it within ``horizon`` (the view→click attribution shape).

    This is THE state-eviction showcase of Structured Streaming joins:
    with watermarks on BOTH sides and a time-range join condition, Spark
    derives how long each side's rows can still match (left rows evict
    once the right watermark passes ``l_ts + horizon``), so join state is
    bounded no matter the stream length.  Without the interval bound the
    state would grow forever.  Self-joining two filters of the same
    source stream is supported (append mode, inner join).

    Output: ``key, left_id, right_id, lag_us`` — the lag in exact integer
    microseconds (instant arithmetic, timezone-free)."""
    l = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col(key).alias("k"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    r = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col(key).alias("rk"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = l.join(
        r,
        F.expr(f"k = rk AND r_ts >= l_ts AND r_ts <= l_ts + interval {horizon}"),
    )
    # timestampdiff works on TIMESTAMP and TIMESTAMP_NTZ alike (the stream
    # reader emits instants, the batch frame keeps NTZ — unified semantics
    # means this operator must accept both), and a difference of two
    # same-typed operands is timezone-free either way
    return joined.select(
        F.col("k").alias(key),
        "left_id",
        "right_id",
        F.expr("timestampdiff(MICROSECOND, l_ts, r_ts)").alias("lag_us"),
    )


def _scratch_ck_base() -> str | None:
    """Base dir for the drain harness' THROWAWAY checkpoints: RAM-backed
    when the host offers it (``/dev/shm``), overridable via
    ``$SPARK_GRAFT_STREAM_CK_DIR``.  The checkpoint of a
    :func:`run_to_memory` drain is deleted the moment the drain returns —
    durability buys nothing, while the state-store commit of a single
    microbatch writes ~4 delta files per join-side per partition
    (measured 31-50 s of summed commitTimeMs on the sf0.1 interval join
    at 32 partitions).  Production sinks (``stream_merge_to_snapshot``,
    ``stream_fold_sketch_state``, ``stream_vector_ingest``) are NOT
    routed through this — their checkpoints carry exactly-once lineage
    across runs and stay wherever the caller puts them."""
    env = os.environ.get("SPARK_GRAFT_STREAM_CK_DIR")
    if env:
        return env
    return "/dev/shm" if os.path.isdir("/dev/shm") else None


def _aggregates_stream(df: DataFrame) -> bool:
    """Whether the analyzed plan holds an ``Aggregate`` over the stream
    (an aggregate inside a static side, e.g. a stream-static join's
    dimension, emits nothing at a watermark and does not count)."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Aggregate" and node.isStreaming():
            return True
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return False


def run_to_memory(
    stream_df: DataFrame,
    mode: str = "complete",
    name: str | None = None,
) -> DataFrame:
    """Drain a stream with availableNow into an in-memory table and return
    it as a batch DataFrame (test/verification harness).

    A streaming query fixes its state-store partition count from
    ``spark.sql.shuffle.partitions`` at START (no AQE coalescing in
    streaming) — on a default session that is 200 state-store tasks per
    microbatch regardless of data size.  The drain pins it to the
    context's ``defaultParallelism`` (one state store per core: the N of
    ``local[N]``) for the start and restores it after the drain; stream
    results do not depend on the partition count.

    availableNow appends one NO-DATA microbatch after the last data batch
    when watermarks advanced, whose only jobs are eager state cleanup and
    append-mode window finalization.  The drain runs it only for an
    APPEND-MODE AGGREGATION of the stream: there a window is emitted once
    the watermark passes it, which for a finite drain happens in exactly
    that final batch — without it the last closed windows are silently
    missing.  For every other shape — complete-mode aggregations (emit
    everything each batch), append-mode joins/dedup/enrich (emit matches
    in the data batch itself) and update-mode stateful ops — the batch
    changes NOTHING about the result while paying a full state-store
    commit cycle (measured 2.4 s of the sf0.1 interval join's 6.6 s
    drain), so it is skipped.

    NOT concurrency-safe: the pin/restore mutates the SHARED session conf
    non-atomically, so two concurrent drains (or a batch query started
    inside the window) would race it.  This is a sequential
    test/verification harness by design — production streams set the conf
    once at query start and never restore."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    spark = stream_df.sparkSession
    final_batch = mode == "append" and _aggregates_stream(stream_df)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if final_batch else "false",
    )
    ck = tempfile.mkdtemp(prefix="smck_", dir=_scratch_ck_base())
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndb
        )
    # Copy the drained rows OUT of the memory sink, then drop the sink's
    # temp view and the checkpoint dir: each drain previously leaked the
    # full result in the driver's MemorySink (every battery/bench rep
    # accumulated another mem_<uuid> table for the session's life) plus a
    # state-store checkpoint directory on disk.  Result relations here are
    # drained aggregates — driver-sized by contract.
    #
    # The copy is a JVM-side eager localCheckpoint (round 16): the old
    # ``createDataFrame(t.collect(), t.schema)`` round-tripped every row
    # through Python pickling twice (measured ~1.0 s on the 92.5k-row
    # anomaly drain — half the query's steady non-compute cost; guide §4,
    # don't cross the boundary for data no Python code touches).  The
    # checkpoint materializes the same rows into block storage with one
    # tiny job and truncates the plan, so dropping the sink's temp view
    # stays safe.  The blocks are TAGGED for release (``_sm_caches`` —
    # the gate harness frees them per gate; callers that skip release
    # fall back to GC + ContextCleaner, as with every attached cache).
    from scholarmind_spark.util import attach_caches

    t = spark.table(name)
    out = t.localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    shutil.rmtree(ck, ignore_errors=True)
    return attach_caches(out, [out])


def stream_merge_to_snapshot(
    stream_df: DataFrame,
    snapshot_path: str,
    keys: list[str],
    version_col: str | None = None,
    checkpoint: str | None = None,
):
    """Incremental pipeline sink: every microbatch is upserted into a
    parquet snapshot via ``foreachBatch`` + :func:`operators.merge.
    merge_upsert` — the streaming half of the nightly-increment story
    (exactly-once per batch id: foreachBatch re-runs a failed batch and
    the merge is idempotent by key/version).  The snapshot is the rename
    layout of :mod:`streaming.state`: each new snapshot is staged and
    swapped in so every crash point stays recoverable, which needs a
    shared POSIX filesystem (for object stores use a table format with
    transactional commit; parquet-directory renames are not atomic
    there)."""
    from scholarmind_spark.operators.merge import merge_upsert

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        recover_swap(snapshot_path)
        snap = batch_df.limit(0)
        if has_parquet(snapshot_path):
            snap = batch_df.sparkSession.read.schema(batch_df.schema).parquet(
                snapshot_path
            )
        merged = merge_upsert(snap, batch_df, keys, version_col=version_col)
        rename_swap(snapshot_path, batch_id, merged.write.mode("overwrite").parquet)

    return start_fold_stream(stream_df, lambda _: _merge, checkpoint, "smck_")


def stream_fold_sketch_state(
    stream_df: DataFrame,
    state_path: str,
    keys: list[str],
    value: str = "value",
    p: int = 5,
    checkpoint: str | None = None,
    family: str = "hdr",
    k: int = DEFAULT_K,
    m_words: int = DEFAULT_M_WORDS,
    bloom_k: int = DEFAULT_HASHES,
    retain_days: int | None = None,
    compact_day: str | None = None,
):
    """Streaming sketch-ledger maintenance: every microbatch's keyed
    sketch state is FOLDED into a parquet state snapshot — the
    continuously-ingesting twin of the batch folds the
    ``sketch_ledger_roundtrip`` gate pins, for all three state families
    (``family``): ``"hdr"`` (``hdr_state_build``/``hdr_state_merge``,
    geometry ``p``), ``"kmv"`` (``kmv_state_build``/``kmv_state_merge``,
    geometry ``k`` — part of the stored-state contract, same k at every
    fold), ``"bloom"`` (``bloom_state_build``/``bloom_state_merge``,
    geometry ``m_words``/``bloom_k``).

    Exactly-once (the rename layout's marker discipline and checkpoint
    lineage of :mod:`streaming.state`) applies to ALL THREE families.
    For HDR it is correctness-critical: an additive fold, unlike a keyed
    upsert, is NOT naturally idempotent — a re-delivered batch would
    double its bucket counts.  A KMV re-fold (union → distinct → rank-cap) and a
    Bloom re-fold (``bit_or``) are no-ops only when the geometry
    matches: a re-fold under a different ``k`` re-caps the state and
    silently corrupts the estimator.  The mark keeps all three families
    under ONE contract (a batch folds exactly once, ever), guards the
    set-semantics families against geometry drift between runs, and
    skips the wasted re-fold work besides.  Folding a marked state under
    a different checkpoint lineage raises: resume with the original
    checkpoint, or start a fresh ``state_path``.

    Every fold swaps whole directories (the rename layout, shared with
    stream_merge_to_snapshot; shared POSIX filesystem), so
    ``state_path`` itself is the state snapshot a reader passes to
    ``spark.read.parquet``; a state in another layout is refused.
    ``retain_days`` turns on in-loop retention/compaction: after every
    merge, days older than (newest numeric day − retain_days + 1) in
    ``compact_day`` (default: the first key) are rekeyed to the
    family's coarse period grain (:func:`_maybe_compact`), so the
    standing state stays O(retained days + periods) under continuous
    ingest instead of growing one day-partition forever."""
    return start_fold_stream(
        stream_df,
        lambda lineage: _sketch_fold_fn(
            state_path, keys, value, p, lineage, family=family, k=k,
            m_words=m_words, bloom_k=bloom_k, retain_days=retain_days,
            compact_day=compact_day,
        ),
        checkpoint, "sfck_", state_path,
    )


def _family_ops(
    family: str,
    keys: list[str],
    value: str,
    p: int,
    k: int,
    m_words: int,
    bloom_k: int,
):
    """(build, merge) pair for a sketch-state family — the SAME
    single-home batch folds the ``sketch_ledger_roundtrip`` gate pins,
    so the streaming path can never diverge from the batch one."""
    from scholarmind_spark.operators.sketchledger import (
        bloom_state_build,
        bloom_state_merge,
        hdr_state_build,
        hdr_state_merge,
        kmv_state_build,
        kmv_state_merge,
    )

    if family == "hdr":
        return (
            lambda df: hdr_state_build(df, keys, value, p),
            hdr_state_merge,
        )
    if family == "kmv":
        return (
            lambda df: kmv_state_build(df, keys, value, k),
            lambda a, b: kmv_state_merge(a, b, k),
        )
    if family == "bloom":
        return (
            lambda df: bloom_state_build(df, keys, value, m_words, bloom_k),
            bloom_state_merge,
        )
    raise ValueError(
        f"unknown sketch family {family!r}: expected hdr | kmv | bloom"
    )


def _maybe_compact(
    merged: "DataFrame",
    family: str,
    day_col: str,
    retain_days: int | None,
    k: int,
):
    """Apply the family's retention/compaction to a freshly-merged state
    when ``retain_days`` is set: cutoff = newest numeric day in state −
    retain_days + 1 (period labels are ignored by the max — try_cast),
    so the retained window slides forward with ingest.  A None
    retain_days (or a state with no numeric day yet) is a no-op.  The
    compactors are idempotent over their own period labels, which is
    what makes running this on EVERY fold safe — the 90-day simulation
    in tools/fold_probe.py is exactly this loop.

    The day-key TYPE contract: the state builders cast every key
    column to string, so the snapshot's day column is StringType no
    matter what the stream carries — a bigint epoch-day key folds and
    compacts cleanly (regression-tested), and the string period labels
    compaction writes can never type-mismatch the next delta.  What
    the key must still satisfy is the RENDERING contract: it has to
    render as a non-negative integer (epoch-day), because both the
    ``div 30`` period label and the (length, value) recency order
    assume digit strings.  A date-rendered key (``2024-03-01``) would
    try_cast to NULL everywhere, the max below would stay None, and
    retention would silently NEVER engage — so that case raises
    instead of no-opping."""
    if retain_days is None:
        return merged
    if retain_days < 1:
        raise ValueError("retain_days must be >= 1")
    from scholarmind_spark.operators.sketchledger import (
        bloom_state_compact,
        hdr_state_compact,
        kmv_state_compact,
    )

    max_day, n_bad = merged.agg(
        F.max(F.expr(f"try_cast({day_col} as bigint)")),
        F.sum(
            F.when(
                F.col(day_col).isNotNull()
                & ~F.col(day_col).startswith("m")
                & F.expr(f"try_cast({day_col} as bigint)").isNull(),
                1,
            ).otherwise(0)
        ),
    ).first()
    if n_bad:
        raise ValueError(
            f"retain_days is set but {n_bad} state rows have a "
            f"{day_col!r} key that does not render as an integer "
            "epoch-day (e.g. a date string): retention would silently "
            "never engage for them — key days by epoch-day "
            "(datediff from 1970-01-01) before folding.  (If the state "
            "was batch-compacted under a custom period_prefix, note "
            "the streaming fold loop recognizes only the default 'm' "
            "labels — fold such state with the batch compactors "
            "instead.)"
        )
    if max_day is None:
        return merged
    cutoff = str(max_day - retain_days + 1)
    if family == "hdr":
        return hdr_state_compact(merged, day_col, cutoff)
    if family == "kmv":
        return kmv_state_compact(merged, day_col, cutoff, k)
    return bloom_state_compact(merged, day_col, cutoff)


def _sketch_fold_fn(
    state_path: str,
    keys: list[str],
    value: str,
    p: int,
    lineage: str,
    family: str = "hdr",
    k: int = DEFAULT_K,
    m_words: int = DEFAULT_M_WORDS,
    bloom_k: int = DEFAULT_HASHES,
    retain_days: int | None = None,
    compact_day: str | None = None,
):
    """The foreachBatch fold of :func:`stream_fold_sketch_state`, exposed
    so tests can exercise re-delivery (same batch id twice) and
    lineage-mismatch refusal deterministically.  It merges the batch's
    sketch into the live state, stages the result with its ``_folded_``
    mark and swaps it in for ``state_path``."""
    build, merge = _family_ops(family, keys, value, p, k, m_words, bloom_k)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if fold_gate(state_path, lineage, batch_id, "rename", "sketch") is SKIP:
            return
        delta = build(batch_df)
        merged = delta
        if has_parquet(state_path):
            snap = batch_df.sparkSession.read.schema(delta.schema).parquet(
                state_path
            )
            merged = merge(snap, delta)
        cached = None
        if retain_days is not None:
            # _maybe_compact runs a driver-side max-day action over the
            # merged state; without a cache the write would re-execute
            # the whole merge (snapshot read + delta build + union/
            # groupBy) a second time
            merged = cached = merged.persist()
        try:
            merged = _maybe_compact(
                merged, family, compact_day or keys[0], retain_days, k
            )

            def write(staging):
                merged.write.mode("overwrite").parquet(staging)
                write_marker(staging, lineage, batch_id)

            rename_swap(state_path, batch_id, write)
        finally:
            if cached is not None:
                cached.unpersist()

    return _fold


# Merge-on-read base fp files are hash-partitioned by a bucket of the
# doc id, with the bucket COUNT chosen at compaction time from the
# resolved row count — each bucket holds ~_MOR_BUCKET_ROWS rows no
# matter how big the corpus grows, so a fold's neg-lookup (which only
# needs the batch ids' current rows) reads ≤ |batch| buckets ×
# ~constant rows: O(batch), flat in the standing corpus.  Production
# default 100k rows/bucket ≈ tens of MB of fingerprints per bucket
# file; the probe overrides it down to make the read term measurable
# at test scale.
_MOR_BUCKET_ROWS = 100_000
_MOR_MAX_BUCKETS = 4096


def stream_ledger_ingest(
    stream_docs: DataFrame,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int | None = None,
    checkpoint: str | None = None,
    compact_every: int = 8,
    bucket_rows: int = _MOR_BUCKET_ROWS,
):
    """Streaming maintenance of the DEDUP ledger: every microbatch of
    documents is applied to the (fingerprints, shingle-counts) state
    pair with ``operators.ledger.ledger_revise``'s algebra — re-ingested
    doc ids REPLACE their rows (old contributions subtracted), new ids
    insert — so the standing state always equals a from-scratch build
    over the latest version of every document seen, with no corpus
    recount.

    The state pair MUST commit atomically: a crash between writing new
    fingerprints and new counts would leave the two halves describing
    different corpora, and every downstream match would be silently
    wrong.  So this fold keeps the merge-on-read manifest layout of
    :mod:`streaming.state` — one manifest publish makes both tables
    visible together, the multi-table commit renames cannot give.
    Exactly-once follows the sketch-fold discipline (a re-delivered
    batch id is skipped, a foreign checkpoint lineage refuses).

    Each fold writes only its DELTA pair (fp upserts with a sequence
    number, signed count deltas): per-fold write cost O(batch).  Every
    ``compact_every`` versions the delta stack compacts into a new base,
    amortizing the O(state) write; ``compact_every=1`` publishes a fully
    resolved base at every fold.  Read with :func:`ledger_state_mor`
    (latest-seq-wins + tombstone drop + counts sum); retire docs with
    :func:`ledger_mor_retire` (a tombstone-delta transaction under the
    same bound).  A state written by the former copy-on-write ledger
    layout is refused: start a fresh state_path."""
    return start_fold_stream(
        stream_docs,
        lambda lineage: _ledger_ingest_fn_mor(
            state_path, lineage, id_col, text_col, shingle_k, compact_every,
            bucket_rows,
        ),
        checkpoint, "slck_", state_path,
    )


def _ledger_batch_fp(batch_df: DataFrame, id_col, text_col, shingle_k):
    """Fingerprints of a microbatch, one row per doc id.  A raw
    microbatch can carry the SAME doc id twice (re-crawl inside one
    trigger window); ledger_revise's contract is one row per id, and
    duplicate ids would corrupt both state tables (double-added counts /
    concatenated hash arrays).  Rows within one microbatch have NO
    order, so "latest" is undefined — pick ONE version deterministically
    (max text); callers needing true latest-wins must deliver at most
    one version per batch (the checkpointed file source does) or carry
    the version in a later batch, which revise then applies."""
    from scholarmind_spark.operators.ledger import SHINGLE_K, ledger_fingerprints

    uniq = batch_df.groupBy(F.col(id_col)).agg(F.max(text_col).alias(text_col))
    k = SHINGLE_K if shingle_k is None else shingle_k
    return ledger_fingerprints(uniq, id_col, text_col, k)


def _mor_bucket_expr(nb: int):
    # xxhash64 is TYPE-sensitive (an int and a long with the same value
    # hash differently), so every bucket computation must hash the id AS
    # THE STATE STORES IT.  Write-time hashes the state's own column;
    # probe-time (:func:`_mor_touched_buckets`) casts caller ids to the
    # base schema's id type first.
    return F.pmod(F.xxhash64("id"), F.lit(nb))


def _mor_chains(
    spark, state_path: str, base_v: int, upto_v: int, fp_buckets=None
):
    """(fp_chain, counts_chain) DataFrames over versions
    [base_v..upto_v]: the base pair plus every delta pair.  The fp base
    is read on its own (it may be bucket-partitioned; deltas never are)
    and unioned with one multi-path delta scan.  ``fp_buckets`` — an
    iterable of bucket ids — prunes the base scan to those partitions
    (exact for any id whose bucket is in the set: an id's base rows
    live ONLY in its bucket, and every delta is still read)."""
    base = version_dir(state_path, base_v)
    fp_chain = spark.read.parquet(os.path.join(base, "fp"))
    if "bucket" in fp_chain.columns:
        if fp_buckets is not None:
            fp_chain = fp_chain.where(F.col("bucket").isin(list(fp_buckets)))
        fp_chain = fp_chain.select("id", "n", "hs", "seq", "tomb")
    dfp_paths = chain_dirs(state_path, base_v, upto_v, "dfp")
    if dfp_paths:
        fp_chain = fp_chain.unionByName(spark.read.parquet(*dfp_paths))
    cnt_paths = [os.path.join(base, "counts")] + chain_dirs(
        state_path, base_v, upto_v, "dcounts"
    )
    return fp_chain, spark.read.parquet(*cnt_paths)


def _mor_touched_buckets(ids_df, state_path: str, base_v: int):
    """Bucket ids the given id set touches, for base-scan pruning — or
    None when the base predates bucketing.  The collect is bounded by
    min(|ids|, nbuckets) values: microbatch-sized driver data, the same
    bound the fold's own batch already satisfies."""
    nb = read_sidecar(state_path, base_v, "nbuckets.txt")
    if nb is None or int(nb) <= 1:
        return None
    # Cast the probe ids to the BASE fp schema's id type before hashing:
    # a caller-supplied id column of a different type (IntegerType retire
    # ids against a LongType state) would otherwise compute wrong buckets
    # — the retired rows get pruned AWAY and the retirement silently
    # no-ops (tombstones skipped, counts never decremented).  Footer-only
    # schema read; no data scan.
    fp_schema = ids_df.sparkSession.read.parquet(
        os.path.join(version_dir(state_path, base_v), "fp")
    ).schema
    ids = ids_df.select(F.col("id").cast(fp_schema["id"].dataType).alias("id"))
    return [
        r["b"]
        for r in ids.select(_mor_bucket_expr(int(nb)).alias("b")).distinct().collect()
    ]


def ledger_state_mor(spark, state_path: str):
    """Resolve a merge-on-read ledger to its current ``(fp, counts)``
    DataFrames — ``(id, n, hs)`` and ``(sh, df_count)``, the shapes of a
    from-scratch ``ledger_fingerprints`` / ``ledger_shingle_counts``
    build — or None if nothing is published.  Cost: one window pass over
    base+deltas for fp, one groupBy-sum for counts — the read-side price
    of O(batch) folds; compaction keeps the chain short (≤ compact_every
    deltas, retires included)."""
    from scholarmind_spark.operators.ledger import (
        ledger_mor_resolve_counts,
        ledger_mor_resolve_fp,
    )

    m = read_manifest(state_path, "ledger")
    if m is None:
        return None
    fp_chain, cnt_chain = _mor_chains(spark, state_path, m.base, m.version)
    return ledger_mor_resolve_fp(fp_chain), ledger_mor_resolve_counts(cnt_chain)


def _versioned(v: int, tomb: bool = False) -> list:
    """The ``(seq, tomb)`` columns of a merge-on-read row written at
    version ``v``."""
    return [F.lit(v).cast("int").alias("seq"), F.lit(tomb).alias("tomb")]


def _ledger_replaced(spark, state_path: str, head, ids):
    """(current fp rows, negated count contributions) of ``ids`` (a
    one-column ``id`` frame): the chain resolve PRUNED to the id-hash
    buckets the ids touch — O(|ids|) against a bucketed base, where a
    compaction (rightly) reads the whole chain."""
    from scholarmind_spark.operators.ledger import (
        ledger_mor_resolve_fp,
        ledger_shingle_counts,
    )

    touched = _mor_touched_buckets(ids, state_path, head.base)
    chain, _ = _mor_chains(
        spark, state_path, head.base, head.version, fp_buckets=touched
    )
    rows = ledger_mor_resolve_fp(chain).join(ids, "id", "left_semi")
    neg = ledger_shingle_counts(rows).select(
        "sh", (-F.col("df_count")).alias("df_count")
    )
    return rows, neg


def _ledger_commit(
    spark, state_path: str, head, lineage: str, upto: int,
    compact_every: int | None, dfp: DataFrame, dcounts: DataFrame,
    bucket_rows: int = _MOR_BUCKET_ROWS,
) -> None:
    """Publish the ledger version after ``head`` through
    :func:`state.commit_mor` — shared by the fold and the retire.
    ``dfp``/``dcounts`` are the transaction's delta pair: fp upserts or
    tombstones stamped with the new version, and signed count deltas.
    A base resolves the whole chain plus this delta (unpruned: the one
    deliberately O(state) read, amortized over ``compact_every``
    versions) and writes fp partitioned by id-hash bucket, with the
    bucket count sized from the resolved row count (``bucket_rows`` per
    bucket, ``nbuckets.txt`` sidecar).  The base fp keeps the (seq,
    tomb) columns so base and delta files stay union-compatible."""
    from scholarmind_spark.operators.ledger import (
        ledger_mor_resolve_counts,
        ledger_mor_resolve_fp,
    )

    def write_delta(new_v):
        new_dir = version_dir(state_path, new_v)
        dfp.write.mode("overwrite").parquet(os.path.join(new_dir, "dfp"))
        dcounts.write.mode("overwrite").parquet(os.path.join(new_dir, "dcounts"))
        return ()

    def write_base(new_v):
        full_fp, full_counts = dfp, dcounts
        if head:
            fp_chain, cnt_chain = _mor_chains(
                spark, state_path, head.base, head.version
            )
            full_fp = ledger_mor_resolve_fp(fp_chain.unionByName(dfp)).select(
                "id", "n", "hs", *_versioned(new_v)
            )
            full_counts = ledger_mor_resolve_counts(cnt_chain.unionByName(dcounts))
        new_dir = version_dir(state_path, new_v)
        full_fp = full_fp.persist()
        try:
            # the count sizes the bucket layout; the resolved table is
            # about to be written anyway, so the extra action stays
            # inside the amortized path
            n_rows = full_fp.count()
            nb = max(1, min(_MOR_MAX_BUCKETS, math.ceil(max(n_rows, 1) / bucket_rows)))
            full_fp.withColumn("bucket", _mor_bucket_expr(nb)).write.mode(
                "overwrite"
            ).partitionBy("bucket").parquet(os.path.join(new_dir, "fp"))
        finally:
            full_fp.unpersist()
        write_sidecar(state_path, new_v, "nbuckets.txt", str(nb))
        full_counts.write.mode("overwrite").parquet(os.path.join(new_dir, "counts"))
        return ()

    commit_mor(
        state_path, head, lineage, upto, compact_every, write_delta, write_base
    )


def _ledger_ingest_fn_mor(
    state_path: str,
    lineage: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int | None = None,
    compact_every: int = 8,
    bucket_rows: int = _MOR_BUCKET_ROWS,
):
    """The foreachBatch body of :func:`stream_ledger_ingest`, exposed
    for deterministic tests.

    Per fold: fingerprint the (within-batch-deduped) docs; the fp delta
    is those rows at seq = new version (tomb false); the counts delta is
    new contributions MINUS the replaced ids' old contributions, looked
    up by :func:`_ledger_replaced` — O(batch), not O(state).  The commit
    (:func:`_ledger_commit`) writes the delta pair, or a new base when
    compaction is due."""
    from scholarmind_spark.operators.ledger import (
        ledger_mor_resolve_counts,
        ledger_shingle_counts,
    )

    if compact_every < 1:
        raise ValueError("compact_every must be >= 1")

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        head = fold_gate(state_path, lineage, batch_id, "mor", "ledger")
        if head is SKIP:
            return
        spark = batch_df.sparkSession
        new_v = head.version + 1 if head else 0
        # feeds dfp + pos counts (+ neg-lookup, + compaction)
        rev_fp = _ledger_batch_fp(batch_df, id_col, text_col, shingle_k).persist()
        try:
            dcounts = ledger_shingle_counts(rev_fp)
            if head:
                _, neg = _ledger_replaced(
                    spark, state_path, head, rev_fp.select("id")
                )
                dcounts = ledger_mor_resolve_counts(dcounts.unionByName(neg))
            dfp = rev_fp.select("id", "n", "hs", *_versioned(new_v))
            _ledger_commit(
                spark, state_path, head, lineage, batch_id, compact_every,
                dfp, dcounts, bucket_rows,
            )
        finally:
            rev_fp.unpersist()

    return _fold


def ledger_mor_retire(spark, state_path: str, retired_ids) -> None:
    """Out-of-band retirement TRANSACTION on a merge-on-read ledger
    (takedown / retention expiry / erasure): publish one tombstone
    delta — fp rows (id, NULL, NULL, seq, tomb=true) plus the retired
    docs' negative count contributions — as its own manifest version.
    Consumes no stream batch id (the high-water mark is republished
    unchanged); ids absent from the state are no-ops.  A retire takes a
    delta-stack slot like any fold and honours the fold's recorded
    compaction cadence: once the chain reaches ``compact_every``
    versions it publishes a new base (bucketed at the default
    ``bucket_rows``) instead of another delta.
    ``retired_ids``: a one-column ``id`` DataFrame."""
    m = read_manifest(state_path, "ledger")
    if m is None:
        raise ValueError(f"no published merge-on-read state at {state_path}")
    removed, neg = _ledger_replaced(
        spark, state_path, m, retired_ids.select("id").distinct()
    )
    # tombstone only ids actually present — a no-op retire publishes
    # empty deltas, which resolve harmlessly.  NULL columns take their
    # types from the resolved state so the multi-path chain scan never
    # hits a parquet type mismatch
    tomb = removed.select(
        "id",
        F.lit(None).cast(removed.schema["n"].dataType).alias("n"),
        F.lit(None).cast(removed.schema["hs"].dataType).alias("hs"),
        *_versioned(m.version + 1, tomb=True),
    )
    _ledger_commit(spark, state_path, m, m.lineage, m.upto, None, tomb, neg)


def stream_vector_ingest(
    stream_vecs: DataFrame,
    state_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    checkpoint: str | None = None,
    coarse_df: DataFrame | None = None,
    coarse_ids: list[int] | None = None,
    subspace_codebook_df: DataFrame | None = None,
    codebook_ids: list[int] | None = None,
    compact_every: int = 8,
    by_residual: bool = False,
):
    """Maintain an IVF-PQ vector index from a stream of embeddings: the
    index as MAINTAINED STATE, the production-vector-store shape (new
    embeddings arrive continuously; rebuilding the index per batch is
    the naive O(corpus) path).  Microbatches fold into the merge-on-read
    layout of :mod:`streaming.state`: an incremental fold writes ONLY
    the encoded batch (``denc``) and never reads prior state (unlike the
    ledger fold, no negative contributions exist here), so per-fold
    write AND read are O(batch); every ``compact_every`` versions (folds
    AND retires consume slots) a per-cell compaction (:func:`_vec_compact`)
    writes a cell-partitioned base fragment.  Re-ingested ids REPLACE
    their rows (latest-seq-wins, resolved at read time over a delta
    stack ≤ compact_every versions).  Gates: ``ann_index_stream`` /
    ``ann_index_residual`` / ``ann_index_rerank``; probe:
    ``tools/fold_probe.py vector``.

    First fold CREATES the state: the coarse codebook (``coarse_df`` or
    ``coarse_ids`` rows of the first batch), the PQ codebook
    (``subspace_codebook_df`` — e.g. :func:`operators.pq.pq_train` — or
    ``codebook_ids`` rows), and the ENCODING MODE (``by_residual`` —
    raw vectors, or the paper's §5 residuals vs the routed cell's
    centroid: SCALE.md's clustered-recall table measures residual
    encoding as load-bearing there, 0.075 → 0.200 recall at m8/c64)
    are all frozen into the state, and with the PQ codebook its
    geometry (``m`` subspaces of width ``dim/m``).  Later folds read
    codebooks, geometry AND mode FROM the state (``m``, ``dim``,
    ``by_residual`` and the codebook args are ignored on resume), so a
    resumed stream can neither re-encode under different codewords or
    widths nor silently mix raw and residual codes.  Encoding is
    :func:`operators.pq.ivfadc_topk`'s own cell-encode stage
    (``_encode_cells``).  The codebooks are tiny by contract and
    copied forward into every version, so a reader needs only the
    current manifest; retraining them means a new state path — the
    Faiss operational reality, stated rather than hidden.  Query with
    :func:`ann_state_query` (reads the mode from the state); retire ids
    with :func:`vector_index_retire`."""
    return start_fold_stream(
        stream_vecs,
        lambda lineage: _vector_ingest_fn(
            state_path, lineage, id_col, vec_col, m, dim,
            coarse_df, coarse_ids, subspace_codebook_df, codebook_ids,
            compact_every, by_residual,
        ),
        checkpoint, "svck_", state_path,
    )


# Fragment fan-in cap of the per-cell compaction (:func:`_vec_compact`)
# and the largest touched-cell set still pruned by literal lists.
_VEC_MAX_FRAGS = 8
_VEC_TOUCHED_ISIN_MAX = 10_000


def _vec_frags(state_path: str, version: int) -> list[int]:
    """Live base-fragment versions referenced by the cellmap at
    ``version`` (frags.txt sidecar, written at every publish)."""
    return sorted(
        int(x) for x in read_sidecar(state_path, version, "frags.txt").split()
    )


def _vec_enc_schema(state_path: str, version: int):
    """The enc relation's schema (encschema.txt sidecar, written at
    every publish)."""
    from pyspark.sql.types import StructType

    return StructType.fromJson(
        json.loads(read_sidecar(state_path, version, "encschema.txt"))
    )


def _vec_chain(spark, state_path: str, base_v: int, upto_v: int, cells=None):
    """The enc chain over versions [base_v..upto_v]: the base — one or
    more cell-partitioned FRAGMENTS named by the cellmap at ``base_v``,
    each consulted ONLY for the cells the cellmap assigns it (a cell
    rewritten by a newer fragment must never be read from an older
    one: its stale rows would win the seq race for ids the rewrite
    purged) and possibly PRUNED to ``cells`` (exact, because an id's
    base row lives only in its owning fragment's cell partition and
    every delta is still read; stale base rows a delta superseded lose
    the seq race in ``mor_resolve`` regardless of which side was
    pruned — and tombstone deltas, whose cell is NULL, are never prune
    candidates at all) — unioned with one multi-path delta scan.
    ``cell`` normalizes to long: partition discovery re-infers the
    partition column as int."""

    def _std(df):
        return df.select(
            "id", F.col("cell").cast("long").alias("cell"),
            "pq", "seq", "tomb",
        )

    def _enc(frag):
        return spark.read.parquet(
            os.path.join(version_dir(state_path, frag), "enc")
        )

    cm = spark.read.parquet(
        os.path.join(version_dir(state_path, base_v), "cellmap")
    )
    parts = []
    if cells is not None:
        # bounded-collect contract: |cells| is the caller's probe
        # set (≤ nprobe × |queries|) or a compaction's touched set
        # (capped at _VEC_TOUCHED_ISIN_MAX before full rewrite)
        by_frag: dict[int, list] = {}
        for r in cm.where(F.col("cell").isin(list(cells))).collect():
            by_frag.setdefault(int(r["frag"]), []).append(r["cell"])
        for frag in sorted(by_frag):
            # the isin doubles as partition pruning AND fragment
            # ownership: by_frag[frag] lists exactly the probed
            # cells this fragment currently owns
            parts.append(
                _std(_enc(frag).where(F.col("cell").isin(by_frag[frag])))
            )
    else:
        frags = sorted(
            int(r["frag"])
            for r in cm.select("frag").distinct().collect()
        )  # ≤ _VEC_MAX_FRAGS by the compaction cap
        for frag in frags:
            enc = _std(_enc(frag))
            if frag != base_v:
                # an older fragment may still hold partitions for
                # cells a newer one rewrote — keep only its OWN
                own = cm.where(F.col("frag") == frag).select(
                    F.col("cell").cast("long").alias("cell")
                )
                enc = enc.join(F.broadcast(own), "cell", "left_semi")
            parts.append(enc)
    denc_paths = chain_dirs(state_path, base_v, upto_v, "denc")
    if denc_paths:
        parts.append(
            spark.read.parquet(*denc_paths).select(
                "id", "cell", "pq", "seq", "tomb"
            )
        )
    if not parts:
        # fully-retired-and-compacted state with no standing deltas:
        # an empty relation with the recorded schema
        parts.append(_std(spark.createDataFrame(
            [], _vec_enc_schema(state_path, base_v)
        )))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def vector_state_enc(spark, state_path: str) -> DataFrame | None:
    """The CURRENT resolved ``(id, cell, pq)`` encoded corpus — one row
    per id, latest version wins — or None if nothing is published.
    Full-chain resolve (no pruning): the parity/test reader, and the
    input a from-scratch rebuild is compared against."""
    from scholarmind_spark.operators.ledger import mor_resolve

    m_ = read_manifest(state_path, "vector-index")
    if m_ is None:
        return None
    return mor_resolve(
        _vec_chain(spark, state_path, m_.base, m_.version)
    ).select("id", "cell", "pq")


def _vec_write_base(
    spark,
    state_path: str,
    resolved: DataFrame,
    new_v: int,
    untouched_cm: DataFrame | None = None,
    keep_frags: list[int] | None = None,
) -> list[int]:
    """Materialize a base fragment at version ``new_v``: write
    ``resolved`` (already re-stamped) partitioned by cell, then publish
    the cellmap = untouched cells keeping their old fragments + the
    cells actually present in this write pointing at ``new_v`` (a
    touched cell whose every row was tombstoned simply vanishes from the
    map — dead cells own no partition and no reader ever asks for them).
    Also records the frags.txt / encschema.txt sidecars.  Returns the
    live fragment list for GC."""
    new_dir = version_dir(state_path, new_v)
    schema_json = json.dumps(resolved.schema.jsonValue())
    enc_dir = os.path.join(new_dir, "enc")
    resolved.write.mode("overwrite").partitionBy("cell").parquet(enc_dir)
    present = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(enc_dir)
        if d.startswith("cell=")
    )
    if not present:
        # a partitioned write of an empty frame leaves an unreadable
        # _SUCCESS-only dir; no cellmap entry will ever point here
        shutil.rmtree(enc_dir, ignore_errors=True)
    present_cm = spark.createDataFrame(
        [(c, new_v) for c in present], "cell long, frag int"
    )
    cm_new = (
        untouched_cm.select(
            F.col("cell").cast("long").alias("cell"),
            F.col("frag").cast("int").alias("frag"),
        ).unionByName(present_cm)
        if untouched_cm is not None
        else present_cm
    )
    # repartition(1): the map is ≤ |cells| rows (coarse-codebook-sized)
    # and must stay readable even when empty — a single task always
    # emits one footer-bearing file
    cm_new.repartition(1).write.mode("overwrite").parquet(
        os.path.join(new_dir, "cellmap")
    )
    frags_new = sorted(
        set(keep_frags or []) | ({new_v} if present else set())
    )
    write_sidecar(
        state_path, new_v, "frags.txt", " ".join(str(f) for f in frags_new)
    )
    write_sidecar(state_path, new_v, "encschema.txt", schema_json)
    return frags_new


def _vec_compact(
    spark,
    state_path: str,
    base_v: int,
    version: int,
    new_v: int,
    extra_delta: DataFrame,
) -> list[int]:
    """Per-cell incremental compaction: a compaction does not rewrite
    the whole standing corpus.  The base is a set of immutable
    FRAGMENTS — each a cell-partitioned enc dir from some past
    compaction — and a CELLMAP (cell -> fragment version) names, for
    every live cell, the one fragment that owns it.  This resolves and
    rewrites ONLY the cells touched since the last compaction — the
    delta stack's insert cells, this transaction's own rows
    (``extra_delta``: the fold's encoded batch, or a retire's
    tombstones), and tombstone victims' current cells (resolved by a
    column-pruned (id, cell) scan of the live fragments — tombstones
    carry a NULL cell by design) — points those cells at the new
    fragment, and carries every untouched cell forward BY REFERENCE:
    write volume ∝ touched cells (the LSM leveling discipline;
    fold_probe.py vector measures it).  Reads stay exact because each
    fragment is consulted only for the cells the cellmap assigns it, so
    purged ids cannot resurrect out of stale partitions.  Falls back to
    a FULL rewrite, which re-bases every cell onto one fragment and lets
    GC reclaim the rest, when the prospective fragment count would
    exceed ``_VEC_MAX_FRAGS`` or the touched set outgrows literal-list
    pruning (``_VEC_TOUCHED_ISIN_MAX``).  Returns the live fragment list
    for GC."""
    from scholarmind_spark.operators.ledger import mor_resolve

    deltas = chain_dirs(state_path, base_v, version, "denc")
    stack = extra_delta.select("id", "cell", "pq", "seq", "tomb")
    if deltas:
        stack = stack.unionByName(
            spark.read.parquet(*deltas).select(
                "id", "cell", "pq", "seq", "tomb"
            )
        )
    touched_df = stack.where(F.col("cell").isNotNull()).select(
        F.col("cell").cast("long").alias("cell")
    )
    # victims: the CURRENT base locations of every id the stack writes
    # — tombstone victims (NULL cell by design) AND superseded rows
    # whose re-ingest MOVED them to a different cell.  Rewriting the
    # old cell too is what maintains the one-live-location-per-id
    # invariant partial rewrites depend on: a stale copy left in an
    # untouched cell would be re-stamped with a fresh seq the next
    # time that cell alone is compacted, resurrecting the old row
    # over the current one.
    stack_ids = stack.select("id").distinct()
    for frag in _vec_frags(state_path, base_v):
        # (id, cell) is a 2-column scan where cell is the partition
        # value — parquet reads one column of data
        enc = spark.read.parquet(
            os.path.join(version_dir(state_path, frag), "enc")
        )
        touched_df = touched_df.unionByName(
            enc.select("id", F.col("cell").cast("long").alias("cell"))
            .join(stack_ids, "id")
            .select("cell")
        )
    touched = sorted(
        r["cell"] for r in touched_df.distinct().collect()
    )
    full = len(touched) > _VEC_TOUCHED_ISIN_MAX
    untouched_cm = None
    keep_frags: list[int] = []
    if not full:
        cm = spark.read.parquet(
            os.path.join(version_dir(state_path, base_v), "cellmap")
        )
        touched_lit = spark.createDataFrame(
            [(int(c),) for c in touched], "cell long"
        )
        untouched_cm = cm.join(touched_lit, "cell", "left_anti")
        keep_frags = sorted(
            int(r["frag"])
            for r in untouched_cm.select("frag").distinct().collect()
        )
        if len(set(keep_frags) | {new_v}) > _VEC_MAX_FRAGS:
            full = True
            untouched_cm, keep_frags = None, []
    chain = _vec_chain(
        spark, state_path, base_v, version,
        cells=None if full else touched,
    )
    resolved = mor_resolve(
        chain.unionByName(extra_delta.select(*chain.columns))
    ).select("id", "cell", "pq", *_versioned(new_v))
    return _vec_write_base(
        spark, state_path, resolved, new_v,
        untouched_cm=untouched_cm, keep_frags=keep_frags,
    )


def _vec_commit(
    spark, state_path: str, head, lineage: str, upto: int,
    delta: DataFrame, compact_every: int | None, coarse, cb, mode: str,
) -> None:
    """Publish the vector-index version after ``head`` (None: state
    creation) through :func:`state.commit_mor` — shared by the fold and
    the retire transaction.  ``delta`` becomes the first base fragment on
    creation, a per-cell compaction when one is due (:func:`_vec_compact`
    drops tombstones, so compaction PURGES retired ids physically), else
    a ``denc`` delta — O(batch) written, nothing read back.  Codebooks
    and the encoding ``mode`` copy forward into every version so GC of
    old versions never strands them; GC never drops a live fragment."""

    def carry(new_v):
        new_dir = version_dir(state_path, new_v)
        coarse.write.mode("overwrite").parquet(os.path.join(new_dir, "coarse"))
        cb.write.mode("overwrite").parquet(os.path.join(new_dir, "cb"))
        write_sidecar(state_path, new_v, "encmode.txt", mode)
        return new_dir

    def write_delta(new_v):
        delta.write.mode("overwrite").parquet(os.path.join(carry(new_v), "denc"))
        for name in ("frags.txt", "encschema.txt"):
            write_sidecar(
                state_path, new_v, name, read_sidecar(state_path, head.base, name)
            )
        return _vec_frags(state_path, head.base)

    def write_base(new_v):
        carry(new_v)
        if head is None:
            return _vec_write_base(spark, state_path, delta, new_v)
        return _vec_compact(
            spark, state_path, head.base, head.version, new_v, delta
        )

    commit_mor(
        state_path, head, lineage, upto, compact_every, write_delta, write_base
    )


def _vector_ingest_fn(
    state_path: str,
    lineage: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    coarse_df: DataFrame | None = None,
    coarse_ids: list[int] | None = None,
    subspace_codebook_df: DataFrame | None = None,
    codebook_ids: list[int] | None = None,
    compact_every: int = 8,
    by_residual: bool = False,
):
    """The foreachBatch body of :func:`stream_vector_ingest`, exposed
    for deterministic re-delivery / lineage tests."""
    from scholarmind_spark.operators.pq import (
        _coarse_codebook,
        _encode_cells,
        _resolve_sub_rows,
        _subspace_codebook,
    )

    if compact_every < 1:
        raise ValueError("compact_every must be >= 1")

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        head = fold_gate(state_path, lineage, batch_id, "mor", "vector-index")
        if head is SKIP:
            return
        spark = batch_df.sparkSession
        new_v = head.version + 1 if head else 0
        # one row per id within the batch: arrays order lexicographically,
        # so max(vec) is a deterministic pick (the ledger fold's contract)
        uniq = batch_df.groupBy(F.col(id_col)).agg(
            F.max(vec_col).alias(vec_col)
        )
        if head:
            # codebooks, geometry and encoding mode are STATE, not call
            # arguments: a resumed stream passing other values must not
            # silently mix code spaces, code widths or raw and residual
            # codes in one table
            coarse, cb, residual = _vec_codebooks(spark, state_path, head.version)
            geom = (None, None)
        else:
            residual = by_residual
            coarse = _coarse_codebook(uniq, id_col, vec_col, coarse_df, coarse_ids)
            # creation-fold guard, mirroring _resolve_sub_rows's "pq:
            # empty codebook": a first batch lacking the coarse id rows
            # would freeze an EMPTY coarse codebook into the state —
            # _assign against zero centroids emits zero rows, so every
            # later fold/query silently returns nothing.  The codebook
            # is ≤ a few rows by contract, so take(1) is a cheap action.
            if not coarse.take(1):
                raise ValueError(
                    "ann: empty coarse codebook on state creation — the "
                    "first batch has none of the coarse_ids rows and no "
                    "coarse_df was given"
                )
            geom = (m, dim // m)
            if subspace_codebook_df is not None:
                cb = subspace_codebook_df.select("sub", "code", "cw")
            else:
                rows = _resolve_sub_rows(
                    uniq, id_col, vec_col, *geom, codebook_ids, None, None
                )
                cb = spark.createDataFrame(
                    [
                        (s, int(code), [float(x) for x in cw])
                        for s, rows_s in enumerate(rows)
                        for code, cw in rows_s
                    ],
                    "sub int, code long, cw array<double>",
                )
        enc_new = _encode_cells(
            uniq, coarse, *_subspace_codebook(cb, *geom), id_col, vec_col,
            residual,
        ).select(F.col(id_col).alias("id"), "cell", "pq", *_versioned(new_v))
        _vec_commit(
            spark, state_path, head, lineage, batch_id, enc_new,
            compact_every, coarse, cb, "residual" if residual else "raw",
        )

    return _fold


def _vec_codebooks(spark, state_path: str, version: int):
    """``(coarse, cb, residual)`` frozen into the index state at
    ``version``: the coarse codebook, the ``(sub, code, cw)`` PQ
    codebook, and whether codes encode residuals."""
    cur = version_dir(state_path, version)
    return (
        spark.read.parquet(os.path.join(cur, "coarse")),
        spark.read.parquet(os.path.join(cur, "cb")),
        read_sidecar(state_path, version, "encmode.txt") == "residual",
    )


def ann_state_query(
    spark,
    state_path: str,
    queries_df: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
):
    """ADC top-k against the PUBLISHED index state — the read side of
    :func:`stream_vector_ingest`: probe the query's ``nprobe`` nearest
    coarse cells, rank the probed residents by asymmetric distance
    DECODED FROM THE STORED CODES (the corpus is never re-read, never
    re-encoded — the standing state is m ints/vector).  Codebooks,
    geometry (m = the stored codebook's subspace count, dim/m = its
    codeword length) and encoding mode are all read from the state.
    Probing and ranking are :func:`operators.pq.ivfadc_topk`'s own
    stages (``_probe_cells``, ``_adc_rank``); the state contributes only
    the encoded residents.  The base scan
    is PRUNED to the probed cells (partition pruning on the
    cell-partitioned fragments the cellmap names; deltas are read
    whole so latest-seq-wins resolves before the cell filter, never
    resurrecting a superseded row).  The delta stack is ≤
    compact_every VERSIONS — folds and retire transactions both
    consume slots, and a retire compacts at the same bound
    (:func:`vector_index_retire`) — so read volume is Σ probed-cell
    sizes + a bounded stack, independent of the standing corpus.  Returns
    ``query_id, neighbor_id, adc, rank`` (the :func:`operators.pq.
    ivfadc_topk` contract), or None if nothing is published."""
    from scholarmind_spark.operators.ledger import mor_resolve
    from scholarmind_spark.operators.pq import (
        _adc_rank,
        _probe_cells,
        _subspace_codebook,
    )

    m_ = read_manifest(state_path, "vector-index")
    if m_ is None:
        return None
    coarse, cb, residual = _vec_codebooks(spark, state_path, m_.version)
    probes = _probe_cells(
        queries_df, coarse, nprobe, residual, query_id_col, query_vec_col
    )
    # the probed cell set is ≤ nprobe × |queries| driver values — the
    # same bounded-collect contract as the MoR ledger's touched buckets
    cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    enc = mor_resolve(
        _vec_chain(spark, state_path, m_.base, m_.version, cells=cells)
    )
    return _adc_rank(enc, probes, *_subspace_codebook(cb), k, "id")


def ann_state_query_refined(
    spark,
    state_path: str,
    queries_df: DataFrame,
    raw_df: DataFrame,
    k: int = 10,
    rerank: int = 50,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """:func:`ann_state_query` + exact re-ranking — the production read
    recipe served FROM THE PUBLISHED STATE (the batch twin is
    :func:`operators.pq.ivfadc_refine_topk`, Jégou et al. §5.3
    IVFADC+R / the Faiss refine): the state's ADC ranking surfaces
    top-``rerank`` candidates per query, their RAW vectors alone are
    fetched from ``raw_df`` and re-ranked by exact squared-L2 to the
    unquantized query — the batch operator's own rerank stage
    (``operators.pq._exact_rerank``).  Like :func:`ann_state_query`,
    codebooks, geometry and encoding mode come from the state.
    Measured on the clustered mixtures (SCALE.md),
    this stage is worth +0.375 absolute recall over the ADC ranking at
    the production residual/m16/c256 point — without it the compressed
    index's quality ceiling is the quantizer's.

    ``raw_df`` is the caller's raw-vector relation (``id_col``,
    ``vec_col``): the index state deliberately stores m-int codes, not
    vectors, so the exact stage needs the source corpus — the standard
    split between a compressed serving index and the store of record.

    Scale shape: the candidate set is ``rerank × |queries|`` rows —
    broadcast against ONE pass of ``raw_df`` (never all-pairs); the
    exact-distance flops are R×|q|, independent of both the corpus and
    the standing state.  Returns ``query_id, neighbor_id, dist, rank``
    (exact distances, the refine contract), or None if nothing is
    published."""
    from scholarmind_spark.operators.pq import _exact_rerank

    cand = ann_state_query(
        spark, state_path, queries_df, k=rerank, nprobe=nprobe,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )
    if cand is None:
        return None
    return _exact_rerank(
        cand, raw_df, queries_df, k, id_col, vec_col, query_id_col, query_vec_col
    )


def vector_index_retire(spark, state_path: str, retired_ids) -> None:
    """Out-of-band retirement TRANSACTION on the vector index (takedown
    / retention expiry / erasure — the :func:`ledger_mor_retire` twin):
    publish one tombstone delta — rows ``(id, NULL cell, NULL pq,
    seq=new, tomb=true)`` — as its own manifest version, consuming no
    stream batch id (the high-water mark is republished unchanged).

    Scale shape, deliberately DIFFERENT from the ledger retire: the
    ledger must read the retired docs' current rows (their shingle
    counts need negating), so it pays a bucket-pruned lookup; the
    vector index needs nothing back — a tombstone is self-contained —
    so the delta write is O(|retired|) and reads NOTHING.  Tombstones
    of ids absent from the state resolve harmlessly; compaction purges
    tombstones physically (``mor_resolve`` drops them before the base
    write), which is when the erasure lands on disk.

    A retire consumes a delta-stack slot like any fold, so it honors
    the SAME compaction bound: when the chain since the last base
    reaches the fold's recorded cadence (the per-version
    compactevery.txt sidecar), the transaction compacts instead of
    publishing another delta, keeping the documented "deltas ≤
    compact_every versions" read bound true under repeated retires on
    a quiescent stream.  ``retired_ids``: a one-column ``id``
    DataFrame."""
    m = read_manifest(state_path, "vector-index")
    if m is None:
        raise ValueError(f"no published vector-index state at {state_path}")
    enc_schema = _vec_enc_schema(state_path, m.version)
    tomb = retired_ids.select(
        F.col("id").cast(enc_schema["id"].dataType).alias("id"),
        F.lit(None).cast("long").alias("cell"),
        F.lit(None).cast(enc_schema["pq"].dataType).alias("pq"),
        *_versioned(m.version + 1, tomb=True),
    ).distinct()
    coarse, cb, residual = _vec_codebooks(spark, state_path, m.version)
    _vec_commit(
        spark, state_path, m, m.lineage, m.upto, tomb, None, coarse, cb,
        "residual" if residual else "raw",
    )
