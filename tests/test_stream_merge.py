"""Streaming incremental merge: microbatches upsert into a parquet snapshot."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scholarmind_spark.streaming import stream_merge_to_snapshot

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("version", T.LongType()),
    ]
)


def _drain(spark, src, snap, ck):
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = stream_merge_to_snapshot(
        stream, snap, keys=["id"], version_col="version", checkpoint=ck
    )
    q.awaitTermination()


def _manifest_text(state):
    import os

    with open(os.path.join(state, "MANIFEST")) as f:
        return f.read()


def test_two_increments_upsert(spark, tmp_path):
    src = str(tmp_path / "src")
    snap = str(tmp_path / "snap")
    ck = str(tmp_path / "ck")

    inc1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], SCHEMA)
    inc1.write.mode("append").parquet(src)
    _drain(spark, src, snap, ck)
    got = {r.id: (r.val, r.version) for r in spark.read.parquet(snap).collect()}
    assert got == {1: ("a", 1), 2: ("b", 1)}

    # second increment: update id=2, insert id=3; the checkpoint makes the
    # second drain process ONLY the new file
    inc2 = spark.createDataFrame([(2, "B", 2), (3, "C", 2)], SCHEMA)
    inc2.write.mode("append").parquet(src)
    _drain(spark, src, snap, ck)
    got = {r.id: (r.val, r.version) for r in spark.read.parquet(snap).collect()}
    assert got == {1: ("a", 1), 2: ("B", 2), 3: ("C", 2)}


def test_swap_crash_recovery(spark, tmp_path):
    """A crash between 'move current aside' and 'move staging in' leaves
    only the .old directory; the next batch must restore it and merge on
    top — the r6-review finding was that rmtree-then-rename lost the whole
    snapshot at that failure point and rebuilt from one microbatch."""
    import os

    src = str(tmp_path / "src")
    snap = str(tmp_path / "snap")
    ck = str(tmp_path / "ck")

    inc1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], SCHEMA)
    inc1.write.mode("append").parquet(src)
    _drain(spark, src, snap, ck)

    # simulate dying between the two renames: snapshot moved aside, new
    # one never moved in
    os.rename(snap, snap + ".old")

    inc2 = spark.createDataFrame([(2, "B", 2), (3, "C", 2)], SCHEMA)
    inc2.write.mode("append").parquet(src)
    _drain(spark, src, snap, ck)
    got = {r.id: (r.val, r.version) for r in spark.read.parquet(snap).collect()}
    # id=1 survived the interrupted swap; id=2 updated; id=3 inserted
    assert got == {1: ("a", 1), 2: ("B", 2), 3: ("C", 2)}
    assert not os.path.isdir(snap + ".old")


# ---------------------------------------------- sketch-state stream fold


FOLD_SCHEMA = T.StructType(
    [
        T.StructField("day", T.StringType()),
        T.StructField("seg", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _fold_rows(tag):
    return [
        (day, seg, float(v + off))
        for day in ("19000", "19001")
        for seg, off in (("api", 0), ("web", 50))
        for v in range(tag, tag + 20)
    ]


def test_stream_fold_equals_batch_and_exactly_once(spark, tmp_path):
    """Streaming HDR-state maintenance: two microbatches folded via
    foreachBatch equal the direct batch build over all rows; a TRUE
    re-delivery (the last checkpoint commit removed, so Spark re-runs
    that batch id with the same offsets on restart) folds nothing
    twice — the in-snapshot high-water marker makes the additive fold
    exactly-once; and folding a marked state under a DIFFERENT
    checkpoint lineage raises instead of silently skipping or
    double-counting."""
    import os

    import pytest as _pytest

    from scholarmind_spark.operators.sketchledger import hdr_state_build
    from scholarmind_spark.streaming import stream_fold_sketch_state

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    b1 = spark.createDataFrame(_fold_rows(0), FOLD_SCHEMA)
    b2 = spark.createDataFrame(_fold_rows(1000), FOLD_SCHEMA)
    b1.coalesce(1).write.mode("append").parquet(src)

    def drain(checkpoint):
        stream = (
            spark.readStream.schema(FOLD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_fold_sketch_state(
            stream, state, ["day", "seg"], "value", checkpoint=checkpoint
        )
        q.awaitTermination()

    drain(ck)
    b2.coalesce(1).write.mode("append").parquet(src)
    drain(ck)  # checkpoint resumes: only the new file is a new batch

    def state_rows():
        return sorted(
            tuple(r)
            for r in spark.read.parquet(state)
            .select("day", "seg", "sign", "bucket", "cnt")
            .collect()
        )

    direct = sorted(
        tuple(r)
        for r in hdr_state_build(b1.unionByName(b2), ["day", "seg"], "value").collect()
    )
    assert state_rows() == direct
    # O(1) marker state: exactly one high-water marker, not one per batch
    assert sum(1 for f in os.listdir(state) if f.startswith("_folded_")) == 1

    # TRUE re-delivery: invoke the fold with an already-folded batch id
    # (exactly what foreachBatch does when a commit was lost) — the
    # high-water marker must skip it.  The lineage is checkpoint
    # IDENTITY (the token minted into the checkpoint on first use),
    # not a path hash
    from scholarmind_spark.streaming.pipeline import _sketch_fold_fn
    from scholarmind_spark.streaming.state import fold_lineage

    lineage = fold_lineage(ck)
    fold = _sketch_fold_fn(state, ["day", "seg"], "value", 5, lineage)
    fold(b2, 1)  # re-delivery of the last batch
    fold(b1, 0)  # and of an older one
    assert state_rows() == direct

    # a DIFFERENT checkpoint lineage over a marked state must refuse:
    # its batch ids restart at 0 and cannot be deduplicated
    other = _sketch_fold_fn(state, ["day", "seg"], "value", 5, "deadbeef")
    with _pytest.raises(ValueError, match="different checkpoint lineage"):
        other(b1, 0)
    assert state_rows() == direct  # and the state is untouched


def test_stream_fold_recreated_checkpoint_refuses(spark, tmp_path):
    """The r10 advisor's data-loss scenario: wipe the checkpoint and
    recreate it at the SAME path.  Spark restarts batch ids at 0; a
    path-derived lineage tag would still match the marker, so every
    batch id <= the stored high-water mark would be silently SKIPPED —
    new data dropped.  The lineage is checkpoint IDENTITY (a token file
    inside the checkpoint that dies with it), so the recreated
    checkpoint gets a fresh tag and the fold REFUSES loudly."""
    import shutil

    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    from scholarmind_spark.streaming import stream_fold_sketch_state

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    def drain():
        stream = (
            spark.readStream.schema(FOLD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_fold_sketch_state(
            stream, state, ["day", "seg"], "value", checkpoint=ck
        )
        q.awaitTermination()

    b1 = spark.createDataFrame(_fold_rows(0), FOLD_SCHEMA)
    b1.coalesce(1).write.mode("append").parquet(src)
    drain()

    # wipe + recreate the checkpoint at the same path — batch ids
    # restart at 0, indistinguishable from re-deliveries of batch 0
    shutil.rmtree(ck)
    b2 = spark.createDataFrame(_fold_rows(1000), FOLD_SCHEMA)
    b2.coalesce(1).write.mode("append").parquet(src)
    with _pytest.raises(StreamingQueryException, match="different checkpoint lineage"):
        drain()


def test_stream_fold_swap_crash_recovery(spark, tmp_path):
    """Fold-path twin of test_swap_crash_recovery: a crash between
    'move current state aside' and 'move staging in' leaves only the
    .old directory; the next fold must restore it and fold ON TOP —
    losing the .old would rebuild state from one microbatch."""
    import os

    from scholarmind_spark.operators.sketchledger import hdr_state_build
    from scholarmind_spark.streaming import stream_fold_sketch_state

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    def drain():
        stream = (
            spark.readStream.schema(FOLD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_fold_sketch_state(
            stream, state, ["day", "seg"], "value", checkpoint=ck
        )
        q.awaitTermination()

    b1 = spark.createDataFrame(_fold_rows(0), FOLD_SCHEMA)
    b1.coalesce(1).write.mode("append").parquet(src)
    drain()

    # simulate dying between the two renames: state moved aside, the
    # staged replacement never moved in
    os.rename(state, state + ".old")

    b2 = spark.createDataFrame(_fold_rows(1000), FOLD_SCHEMA)
    b2.coalesce(1).write.mode("append").parquet(src)
    drain()

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(state)
        .select("day", "seg", "sign", "bucket", "cnt")
        .collect()
    )
    direct = sorted(
        tuple(r)
        for r in hdr_state_build(
            b1.unionByName(b2), ["day", "seg"], "value"
        ).collect()
    )
    assert got == direct  # b1's state survived the interrupted swap
    assert not os.path.isdir(state + ".old")


UID_SCHEMA = T.StructType(
    [
        T.StructField("day", T.StringType()),
        T.StructField("seg", T.StringType()),
        T.StructField("uid", T.StringType()),
    ]
)


def _uid_rows(tag):
    return [
        (day, seg, f"u{tag + v}")
        for day in ("19000", "19001")
        for seg in ("api", "web")
        for v in range(20)
    ]


def test_stream_fold_kmv_and_bloom_families(spark, tmp_path):
    """The KMV and Bloom state families fold through the SAME streaming
    path as HDR (stream == direct batch build over all rows), honor the
    re-delivery marker (state byte-identical after re-folding old batch
    ids), and refuse a foreign checkpoint lineage."""
    import os

    import pytest as _pytest

    from scholarmind_spark.operators.sketchledger import (
        bloom_state_build,
        kmv_state_build,
    )
    from scholarmind_spark.streaming import stream_fold_sketch_state
    from scholarmind_spark.streaming.pipeline import _sketch_fold_fn
    from scholarmind_spark.streaming.state import fold_lineage

    b1 = spark.createDataFrame(_uid_rows(0), UID_SCHEMA)
    b2 = spark.createDataFrame(_uid_rows(10), UID_SCHEMA)  # overlaps b1
    both = b1.unionByName(b2)
    keys = ["day", "seg"]

    cases = {
        # k=8 < 30 distinct uids per key: the rank cap actually binds
        "kmv": dict(
            kwargs=dict(family="kmv", k=8),
            direct=lambda: kmv_state_build(both, keys, "uid", 8),
            cols=["day", "seg", "h"],
        ),
        "bloom": dict(
            kwargs=dict(family="bloom", m_words=16, bloom_k=4),
            direct=lambda: bloom_state_build(both, keys, "uid", 16, 4),
            cols=["day", "seg", "word", "bits"],
        ),
    }
    for family, case in cases.items():
        src = str(tmp_path / f"src_{family}")
        state = str(tmp_path / f"state_{family}")
        ck = str(tmp_path / f"ck_{family}")

        def drain():
            stream = (
                spark.readStream.schema(UID_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = stream_fold_sketch_state(
                stream, state, keys, "uid", checkpoint=ck, **case["kwargs"]
            )
            q.awaitTermination()

        b1.coalesce(1).write.mode("append").parquet(src)
        drain()
        b2.coalesce(1).write.mode("append").parquet(src)
        drain()

        def state_rows():
            return sorted(
                tuple(r)
                for r in spark.read.parquet(state).select(*case["cols"]).collect()
            )

        direct = sorted(tuple(r) for r in case["direct"]().collect())
        assert state_rows() == direct, family
        assert (
            sum(1 for f in os.listdir(state) if f.startswith("_folded_")) == 1
        ), family

        # re-delivery: the marker skips already-folded batch ids
        lineage = fold_lineage(ck)
        fold = _sketch_fold_fn(
            state, keys, "uid", 5, lineage, **case["kwargs"]
        )
        fold(b2, 1)
        fold(b1, 0)
        assert state_rows() == direct, family

        # foreign lineage over a marked state refuses
        other = _sketch_fold_fn(
            state, keys, "uid", 5, "deadbeef", **case["kwargs"]
        )
        with _pytest.raises(ValueError, match="different checkpoint lineage"):
            other(b1, 0)
        assert state_rows() == direct, family


def test_stream_fold_with_retention(spark, tmp_path):
    """retain_days wires compaction into the fold loop: after draining
    two day-batches with retain_days=1, the state holds only the newest
    day at day grain plus the older day's period row set — and equals
    hdr_state_compact over the direct batch build at the same cutoff
    (the production standing-ledger loop)."""
    from scholarmind_spark.operators.sketchledger import (
        hdr_state_build,
        hdr_state_compact,
    )
    from scholarmind_spark.streaming import stream_fold_sketch_state

    b1 = spark.createDataFrame(_fold_rows(0), FOLD_SCHEMA)  # days 19000/19001
    both_direct = hdr_state_compact(
        hdr_state_build(b1, ["day", "seg"], "value"), "day", "19001"
    )
    want = sorted(tuple(r) for r in both_direct.collect())

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    # one batch per day so the second fold slides the cutoff forward
    b1.where(F.col("day") == "19000").coalesce(1).write.mode("append").parquet(src)

    def drain():
        stream = (
            spark.readStream.schema(FOLD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_fold_sketch_state(
            stream, state, ["day", "seg"], "value",
            checkpoint=ck, retain_days=1,
        )
        q.awaitTermination()

    drain()
    b1.where(F.col("day") == "19001").coalesce(1).write.mode("append").parquet(src)
    drain()

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(state)
        .select("day", "seg", "sign", "bucket", "cnt")
        .collect()
    )
    assert got == want
    days = {
        r.day for r in spark.read.parquet(state).select("day").distinct().collect()
    }
    assert days == {"19001", "m633"}  # 19000 coarsened


def test_fold_refuses_cross_protocol_state(spark, tmp_path):
    """A rename-layout sketch fold over a merge-on-read ledger state
    would rmtree the MANIFEST and every version dir (all state
    destroyed); a merge-on-read ledger fold over a rename-layout sketch
    state would ignore the loose parquet AND its exactly-once marker and
    publish v-0 holding one batch.  Both directions must refuse and
    leave the state untouched."""
    import os

    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    from scholarmind_spark.streaming import (
        stream_fold_sketch_state,
        stream_ledger_ingest,
    )

    def drain_sketch(src, state, ck):
        stream = (
            spark.readStream.schema(FOLD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        stream_fold_sketch_state(
            stream, state, ["day", "seg"], "value", checkpoint=ck
        ).awaitTermination()

    def drain_ledger(src, state, ck):
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        stream_ledger_ingest(
            stream, state, shingle_k=3, checkpoint=ck
        ).awaitTermination()

    def listing(state):
        return sorted(
            os.path.relpath(os.path.join(d, f), state)
            for d, _dirs, files in os.walk(state)
            for f in files
        )

    sketch_batch = spark.createDataFrame(_fold_rows(0), FOLD_SCHEMA)
    doc_batch = spark.createDataFrame(MOR_DOCS, DOC_SCHEMA)

    # merge-on-read ledger state, sketch fold → refuse (state untouched)
    doc_src = str(tmp_path / "doc_src")
    ledger = str(tmp_path / "ledger")
    doc_batch.coalesce(1).write.mode("append").parquet(doc_src)
    drain_ledger(doc_src, ledger, str(tmp_path / "ck_l"))
    before = listing(ledger)
    manifest = _manifest_text(ledger)
    sketch_src = str(tmp_path / "sketch_src")
    sketch_batch.coalesce(1).write.mode("append").parquet(sketch_src)
    with _pytest.raises(StreamingQueryException, match="manifest-committed"):
        drain_sketch(sketch_src, ledger, str(tmp_path / "ck_s1"))
    assert listing(ledger) == before  # nothing destroyed
    assert _manifest_text(ledger) == manifest

    # rename-layout sketch state, ledger fold → refuse (state untouched)
    sketch = str(tmp_path / "sketch")
    drain_sketch(sketch_src, sketch, str(tmp_path / "ck_s2"))
    before = listing(sketch)
    with _pytest.raises(StreamingQueryException, match="rename-committed"):
        drain_ledger(doc_src, sketch, str(tmp_path / "ck_l2"))
    assert listing(sketch) == before
    assert not os.path.exists(os.path.join(sketch, "MANIFEST"))


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def test_stream_ledger_ingest_atomic_pair(spark, tmp_path):
    """Streaming dedup-ledger maintenance: microbatches of documents
    revise the (fingerprints, counts) state PAIR, committed atomically
    through one manifest (both delta tables in one version dir — a
    crash can never publish one half).  Checks: state == from-scratch
    build over the latest doc versions, re-delivery no-op,
    foreign-lineage refusal, crash-before-publish recovery."""
    import os

    import pytest as _pytest

    from scholarmind_spark.operators.ledger import (
        ledger_fingerprints,
        ledger_shingle_counts,
    )
    from scholarmind_spark.streaming import (
        ledger_state_mor,
        stream_ledger_ingest,
    )
    from scholarmind_spark.streaming.pipeline import _ledger_ingest_fn_mor
    from scholarmind_spark.streaming.state import fold_lineage

    b1 = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc {i} zeta") for i in range(1, 7)],
        DOC_SCHEMA,
    )
    # revise 2 and 4, insert 7 and 8
    b2 = spark.createDataFrame(
        [(2, "completely different revised text about rivers and boats"),
         (4, "another fully rewritten document concerning mountains"),
         (7, "a brand new late arriving document seven"),
         (8, "a brand new late arriving document eight")],
        DOC_SCHEMA,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    def drain():
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_ledger_ingest(
            stream, state, shingle_k=3, checkpoint=ck
        )
        q.awaitTermination()

    b1.coalesce(1).write.mode("append").parquet(src)
    drain()
    b2.coalesce(1).write.mode("append").parquet(src)
    drain()

    def fp_rows():
        return sorted(
            (r.id, r.n, tuple(r.hs))
            for r in ledger_state_mor(spark, state)[0].collect()
        )

    def count_rows():
        return sorted(
            tuple(r) for r in ledger_state_mor(spark, state)[1].collect()
        )

    latest = {r.doc_id: r.text for r in b1.collect()}
    latest.update({r.doc_id: r.text for r in b2.collect()})
    direct_docs = spark.createDataFrame(sorted(latest.items()), DOC_SCHEMA)
    fp_direct = ledger_fingerprints(direct_docs, k=3)
    want_fp = sorted(
        (r.id, r.n, tuple(r.hs)) for r in fp_direct.collect()
    )
    want_counts = sorted(
        tuple(r) for r in ledger_shingle_counts(fp_direct).collect()
    )
    assert fp_rows() == want_fp
    assert count_rows() == want_counts
    lineage = fold_lineage(ck)
    assert _manifest_text(state) == f"mor 1 {lineage} 1 0\n"

    # re-delivery: already-applied batch ids are skipped, no publish
    fold = _ledger_ingest_fn_mor(state, lineage, shingle_k=3)
    fold(b2, 1)
    fold(b1, 0)
    assert _manifest_text(state) == f"mor 1 {lineage} 1 0\n"
    assert fp_rows() == want_fp

    # foreign lineage refuses
    other = _ledger_ingest_fn_mor(state, "deadbeef", shingle_k=3)
    with _pytest.raises(ValueError, match="different checkpoint lineage"):
        other(b1, 0)

    # crash-before-publish: an orphan half-written v-2 (fp delta only,
    # no counts delta — the exact torn state the atomic pair commit
    # prevents) is invisible to readers and overwritten by the retried
    # batch
    b3 = spark.createDataFrame(
        [(9, "a ninth document arriving after the crash")], DOC_SCHEMA
    )
    orphan = os.path.join(state, "v-2", "dfp")
    ledger_fingerprints(b3, k=3).select(
        "id", "n", "hs", F.lit(2).alias("seq"), F.lit(False).alias("tomb")
    ).write.mode("overwrite").parquet(orphan)
    assert _manifest_text(state) == f"mor 1 {lineage} 1 0\n"
    assert fp_rows() == want_fp
    fold(b3, 2)
    assert _manifest_text(state) == f"mor 2 {lineage} 2 0\n"
    latest[9] = "a ninth document arriving after the crash"
    direct3 = ledger_fingerprints(
        spark.createDataFrame(sorted(latest.items()), DOC_SCHEMA), k=3
    )
    got_fp3 = fp_rows()
    want_fp3 = sorted((r.id, r.n, tuple(r.hs)) for r in direct3.collect())
    assert got_fp3 == want_fp3
    got_c3 = count_rows()
    want_c3 = sorted(
        tuple(r) for r in ledger_shingle_counts(direct3).collect()
    )
    assert got_c3 == want_c3


def test_stream_ledger_ingest_dedupes_batch_ids(spark, tmp_path):
    """A raw microbatch can deliver the same doc id twice; the ingest
    picks ONE version deterministically (max text) before revising, so
    the state pair stays structurally valid instead of accumulating
    duplicate fingerprint rows / double-added counts (review r11,
    second pass)."""
    from scholarmind_spark.operators.ledger import (
        ledger_fingerprints,
        ledger_shingle_counts,
    )
    from scholarmind_spark.streaming import (
        ledger_state_mor,
        stream_ledger_ingest,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    dup = spark.createDataFrame(
        [(1, "alpha beta gamma version one"),
         (1, "zeta eta theta version two"),
         (2, "a second document entirely")],
        DOC_SCHEMA,
    )
    dup.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_ledger_ingest(stream, state, shingle_k=3, checkpoint=ck)
    q.awaitTermination()

    got_fp, got_counts = ledger_state_mor(spark, state)
    assert got_fp.count() == 2  # one row per id, not three
    # max-text wins: id 1 keeps "zeta..." (> "alpha..." lexically)
    expect = spark.createDataFrame(
        [(1, "zeta eta theta version two"),
         (2, "a second document entirely")],
        DOC_SCHEMA,
    )
    direct = ledger_fingerprints(expect, k=3)
    assert sorted(
        (r.id, r.n, tuple(r.hs)) for r in got_fp.collect()
    ) == sorted((r.id, r.n, tuple(r.hs)) for r in direct.collect())
    assert sorted(
        tuple(r) for r in got_counts.collect()
    ) == sorted(
        tuple(r) for r in ledger_shingle_counts(direct).collect()
    )


def test_manifest_fold_refuses_interrupted_rename_state(spark, tmp_path):
    """A rename-layout crash can park ALL state at state_path+'.old'
    with state_path absent; a merge-on-read fold must refuse that
    layout too (the rename fold self-heals it) instead of publishing v-0
    over an empty directory and orphaning the history."""
    import os

    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    from scholarmind_spark.streaming import (
        stream_fold_sketch_state,
        stream_ledger_ingest,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")

    b1 = spark.createDataFrame(_fold_rows(0), FOLD_SCHEMA)
    b1.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(FOLD_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_fold_sketch_state(
        stream, state, ["day", "seg"], "value", checkpoint=str(tmp_path / "ck1")
    ).awaitTermination()
    # simulate the interrupted-swap window: state parked aside
    os.rename(state, state + ".old")
    before = sorted(os.listdir(state + ".old"))

    doc_src = str(tmp_path / "doc_src")
    spark.createDataFrame(MOR_DOCS, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(doc_src)
    docs = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(doc_src)
    )
    with _pytest.raises(StreamingQueryException, match="rename-committed"):
        stream_ledger_ingest(
            docs, state, shingle_k=3, checkpoint=str(tmp_path / "ck2")
        ).awaitTermination()
    assert sorted(os.listdir(state + ".old")) == before  # history untouched


# ------------------------------------------ r12 advice regression tests


BIGINT_FOLD_SCHEMA = T.StructType(
    [
        T.StructField("day", T.LongType()),
        T.StructField("seg", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def test_fold_retention_bigint_day_key(spark, tmp_path):
    """A NUMERIC (bigint epoch-day) stream day key survives in-loop
    retention: the builders cast key columns to string, so the state
    snapshot is StringType from fold #1 and the string period labels
    compaction writes can never type-mismatch a later delta's schema
    (the r12-advice scenario — folds after the first compaction must
    keep working, and the final state must equal compact-over-direct
    with stringified days)."""
    import os

    from scholarmind_spark.operators.sketchledger import (
        hdr_state_build,
        hdr_state_compact,
    )
    from scholarmind_spark.streaming.pipeline import _sketch_fold_fn

    state = str(tmp_path / "state")
    batches = [
        spark.createDataFrame(
            [(day, "a", float(v)) for v in range(10)], BIGINT_FOLD_SCHEMA
        )
        for day in (19000, 19001, 19040)
    ]
    fold = _sketch_fold_fn(
        state, ["day", "seg"], "value", 5, "cafebabe", retain_days=1
    )
    for bid, b in enumerate(batches):  # compaction engages at fold 2
        fold(b, bid)
    assert os.path.isdir(state)

    direct = hdr_state_compact(
        hdr_state_build(
            batches[0].unionByName(batches[1]).unionByName(batches[2]),
            ["day", "seg"],
            "value",
        ),
        "day",
        "19040",
    )
    want = sorted(tuple(r) for r in direct.collect())
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(state)
        .select("day", "seg", "sign", "bucket", "cnt")
        .collect()
    )
    assert got == want
    days = {r.day for r in spark.read.parquet(state).select("day").distinct().collect()}
    assert days == {"19040", "m633"}  # 19000/19001 coarsened into m633


def test_fold_retention_rejects_date_day_key(spark, tmp_path):
    """A date-rendered day key ('2024-03-01') try_casts to NULL, so
    retention would silently NEVER engage — the fold must raise a
    clear error instead of no-opping forever (r12 advice)."""
    import pytest as _pytest

    from scholarmind_spark.streaming.pipeline import _sketch_fold_fn

    state = str(tmp_path / "state")
    b = spark.createDataFrame(
        [("2024-03-01", "a", float(v)) for v in range(5)], FOLD_SCHEMA
    )
    fold = _sketch_fold_fn(
        state, ["day", "seg"], "value", 5, "cafebabe", retain_days=1
    )
    with _pytest.raises(Exception, match="epoch-day"):
        fold(b, 0)


def test_fold_lineage_refuses_legacy_tag(spark, tmp_path):
    """State folded under the former md5(abspath(checkpoint))[:8]
    path-derived tag, resumed with its checkpoint (which predates the
    _sketchfold_lineage file), is refused for its lineage and left
    unchanged: the checkpoint gets a fresh random token, so the fold
    fails loudly instead of silently skipping or double-counting."""
    import hashlib
    import os

    import pytest as _pytest

    from scholarmind_spark.streaming.pipeline import _sketch_fold_fn
    from scholarmind_spark.streaming.state import fold_lineage

    ck = str(tmp_path / "ck")
    os.makedirs(ck)  # pre-existing legacy checkpoint: no lineage file
    legacy = hashlib.md5(os.path.abspath(ck).encode()).hexdigest()[:8]

    state = str(tmp_path / "state")
    b1 = spark.createDataFrame(_fold_rows(0), FOLD_SCHEMA)
    _sketch_fold_fn(state, ["day", "seg"], "value", 5, legacy)(b1, 0)
    before = sorted(os.listdir(state))
    want = sorted(tuple(r) for r in spark.read.parquet(state).collect())

    lineage = fold_lineage(ck)
    assert lineage != legacy
    assert fold_lineage(ck) == lineage  # persisted as the identity
    fold = _sketch_fold_fn(state, ["day", "seg"], "value", 5, lineage)
    with _pytest.raises(ValueError, match="different checkpoint lineage"):
        fold(spark.createDataFrame(_fold_rows(1000), FOLD_SCHEMA), 1)
    assert sorted(os.listdir(state)) == before
    assert sorted(tuple(r) for r in spark.read.parquet(state).collect()) == want


def test_manifest_gc_ignores_stray_entries(spark, tmp_path):
    """Version GC runs AFTER the manifest publish; a stray
    non-numeric 'v-*' entry (user backup dir, partial name) must be
    skipped, not crash the microbatch on already-committed state
    (r12 advice)."""
    import os

    from scholarmind_spark.streaming.state import gc_versions

    state = str(tmp_path / "state")
    os.makedirs(os.path.join(state, "v-backup"))
    os.makedirs(os.path.join(state, "v-0"))
    open(os.path.join(state, "v-1"), "w").close()  # FILE named like a version
    os.makedirs(os.path.join(state, "v-2"))

    gc_versions(state, 2)  # must not raise

    left = sorted(os.listdir(state))
    # v-0 (dir, old) collected; v-backup and the v-1 FILE survive
    assert left == ["v-1", "v-2", "v-backup"]


# ------------------------------------------- merge-on-read ledger fold


DOC_SCHEMA = "doc_id bigint, text string"

MOR_DOCS = [
    (i, f"word{i % 7} alpha beta gamma delta epsilon zeta eta doc {i} body")
    for i in range(12)
]


def _mor_batches(spark):
    """Four microbatches: inserts 0-2 / 3-5 / 6-8(+revise 0,1) / 9-11
    (+revise 0 again) — exercises insert, revise, and re-revise."""
    rows = dict(MOR_DOCS)
    b = []
    b.append([(i, rows[i]) for i in range(0, 3)])
    b.append([(i, rows[i]) for i in range(3, 6)])
    b.append([(i, rows[i]) for i in range(6, 9)]
             + [(0, rows[0] + " r2"), (1, rows[1] + " r2")])
    b.append([(i, rows[i]) for i in range(9, 12)] + [(0, rows[0] + " r3")])
    return [spark.createDataFrame(x, DOC_SCHEMA) for x in b]


def _mor_expected(spark, retired=()):
    rows = dict(MOR_DOCS)
    rows[0] = rows[0] + " r3"
    rows[1] = rows[1] + " r2"
    latest = [(i, t) for i, t in rows.items() if i not in retired]
    return spark.createDataFrame(latest, DOC_SCHEMA)


def _assert_mor_state_equals(spark, state, expected_docs):
    from scholarmind_spark.operators.ledger import (
        ledger_fingerprints,
        ledger_shingle_counts,
    )
    from scholarmind_spark.streaming import ledger_state_mor

    got_fp, got_counts = ledger_state_mor(spark, state)
    fp_direct = ledger_fingerprints(expected_docs)
    assert sorted((r.id, r.n, tuple(r.hs)) for r in got_fp.collect()) == sorted(
        (r.id, r.n, tuple(r.hs)) for r in fp_direct.collect()
    )
    assert sorted(tuple(r) for r in got_counts.collect()) == sorted(
        tuple(r) for r in ledger_shingle_counts(fp_direct).collect()
    )


def test_mor_fold_equals_from_scratch_with_compaction(spark, tmp_path):
    """Merge-on-read ledger ingest: four folds (inserts, revisions, a
    re-revision) with compact_every=2 — the published state resolves to
    the from-scratch build after EVERY fold, compaction materializes a
    new base on schedule, and incremental version dirs hold only delta
    files (the O(batch)-write claim, checked on disk)."""
    import os

    from scholarmind_spark.streaming.pipeline import _ledger_ingest_fn_mor

    state = str(tmp_path / "state")
    fold = _ledger_ingest_fn_mor(state, "cafebabe", compact_every=2)
    batches = _mor_batches(spark)
    expected_per_fold = [
        spark.createDataFrame([(i, dict(MOR_DOCS)[i]) for i in range(3)], DOC_SCHEMA),
        spark.createDataFrame([(i, dict(MOR_DOCS)[i]) for i in range(6)], DOC_SCHEMA),
        None,  # built below
        None,
    ]
    rows = dict(MOR_DOCS)
    r2 = dict(rows); r2[0] += " r2"; r2[1] += " r2"
    expected_per_fold[2] = spark.createDataFrame(
        [(i, r2[i]) for i in range(9)], DOC_SCHEMA
    )
    r3 = dict(r2); r3[0] = rows[0] + " r3"
    expected_per_fold[3] = spark.createDataFrame(
        [(i, r3[i]) for i in range(12)], DOC_SCHEMA
    )

    for bid, (batch, exp) in enumerate(zip(batches, expected_per_fold)):
        fold(batch, bid)
        _assert_mor_state_equals(spark, state, exp)

    # fold 0 wrote the first base (v-0); fold 1 was incremental; fold 2
    # compacted (new_v - base_v = 2 hits compact_every); fold 3 is
    # incremental again on the new base
    assert _manifest_text(state) == "mor 3 cafebabe 3 2\n"
    assert os.path.isdir(os.path.join(state, "v-2", "fp"))  # base
    assert os.path.isdir(os.path.join(state, "v-3", "dfp"))
    # the incremental dir holds ONLY deltas — never a full table
    assert not os.path.isdir(os.path.join(state, "v-3", "fp"))
    # fold 3's GC dropped the pre-compaction chain (v-0, v-1)
    assert not os.path.isdir(os.path.join(state, "v-0"))
    assert not os.path.isdir(os.path.join(state, "v-1"))


def test_mor_fold_redelivery_and_lineage(spark, tmp_path):
    """A re-delivered batch id is a no-op; a foreign checkpoint lineage
    refuses — the sketch-fold exactly-once discipline, MoR flavor."""
    import pytest as _pytest

    from scholarmind_spark.streaming.pipeline import _ledger_ingest_fn_mor

    state = str(tmp_path / "state")
    batches = _mor_batches(spark)
    fold = _ledger_ingest_fn_mor(state, "cafebabe", compact_every=4)
    fold(batches[0], 0)
    fold(batches[1], 1)
    fold(batches[1], 1)  # re-delivery: must not double doc 3-5 counts
    exp = spark.createDataFrame(
        [(i, dict(MOR_DOCS)[i]) for i in range(6)], DOC_SCHEMA
    )
    _assert_mor_state_equals(spark, state, exp)
    with _pytest.raises(ValueError, match="different checkpoint lineage"):
        _ledger_ingest_fn_mor(state, "deadbeef")(batches[2], 0)


def test_mor_cow_refuse_each_other(spark, tmp_path):
    """A merge-on-read fold or reader on a copy-on-write manifest (a
    ``MANIFEST`` line without the ``mor`` field, written by hand) would
    mis-parse it; a sketch fold on merge-on-read state would rmtree it.
    Every one refuses and leaves the state as it was."""
    import os

    import pytest as _pytest

    from scholarmind_spark.operators.sketchledger import hdr_state_build
    from scholarmind_spark.streaming import ledger_state_mor
    from scholarmind_spark.streaming.pipeline import (
        _ledger_ingest_fn_mor,
        _sketch_fold_fn,
    )

    batches = _mor_batches(spark)
    sketch_batch = spark.createDataFrame(_fold_rows(0), FOLD_SCHEMA)

    mor_state = str(tmp_path / "mor")
    _ledger_ingest_fn_mor(mor_state, "cafebabe")(batches[0], 0)
    manifest = _manifest_text(mor_state)
    with _pytest.raises(ValueError, match="manifest-committed"):
        _sketch_fold_fn(
            mor_state, ["day", "seg"], "value", 5, "cafebabe"
        )(sketch_batch, 1)
    assert _manifest_text(mor_state) == manifest

    cow_state = str(tmp_path / "cow")
    hdr_state_build(sketch_batch, ["day", "seg"], "value").write.parquet(
        os.path.join(cow_state, "v-0")
    )
    with open(os.path.join(cow_state, "MANIFEST"), "w") as f:
        f.write("0 cafebabe 3\n")
    before = sorted(os.listdir(cow_state))
    with _pytest.raises(ValueError, match="copy-on-write"):
        _ledger_ingest_fn_mor(cow_state, "cafebabe")(batches[1], 4)
    with _pytest.raises(ValueError, match="copy-on-write"):
        ledger_state_mor(spark, cow_state)
    assert sorted(os.listdir(cow_state)) == before
    assert _manifest_text(cow_state) == "0 cafebabe 3\n"


def test_mor_retire_transaction(spark, tmp_path):
    """ledger_mor_retire publishes a tombstone delta as its own
    version: retired docs vanish from the resolved state (== a
    from-scratch build over the survivors), absent ids are no-ops, and
    the stream's batch high-water mark is unchanged so the next fold
    proceeds."""
    from scholarmind_spark.streaming import ledger_mor_retire
    from scholarmind_spark.streaming.pipeline import _ledger_ingest_fn_mor

    state = str(tmp_path / "state")
    batches = _mor_batches(spark)
    fold = _ledger_ingest_fn_mor(state, "cafebabe", compact_every=10)
    for bid, batch in enumerate(batches[:3]):
        fold(batch, bid)

    retired = spark.createDataFrame([(4,), (7,), (999,)], "id bigint")
    ledger_mor_retire(spark, state, retired)
    rows = dict(MOR_DOCS)
    rows[0] += " r2"
    rows[1] += " r2"
    exp = spark.createDataFrame(
        [(i, rows[i]) for i in range(9) if i not in (4, 7)], DOC_SCHEMA
    )
    _assert_mor_state_equals(spark, state, exp)
    # high-water unchanged: upto 2 at the retire's version 3
    assert _manifest_text(state) == "mor 3 cafebabe 2 0\n"

    fold(batches[3], 3)  # stream resumes over the retired state
    rows[0] = dict(MOR_DOCS)[0] + " r3"
    rows.update({i: dict(MOR_DOCS)[i] for i in range(9, 12)})
    exp = spark.createDataFrame(
        [(i, t) for i, t in rows.items() if i not in (4, 7)], DOC_SCHEMA
    )
    _assert_mor_state_equals(spark, state, exp)


def test_mor_crash_before_publish_recovers(spark, tmp_path):
    """An orphan version directory from a crash after the delta write
    but before the manifest publish is overwritten by the retried
    batch — the previous manifest stays live throughout."""
    import shutil as _shutil

    from scholarmind_spark.streaming.pipeline import _ledger_ingest_fn_mor

    state = str(tmp_path / "state")
    batches = _mor_batches(spark)
    fold = _ledger_ingest_fn_mor(state, "cafebabe", compact_every=10)
    fold(batches[0], 0)
    # simulate the crash: run fold 1 fully, then roll back the manifest
    # and leave v-1 as the orphan
    import os

    mp = os.path.join(state, "MANIFEST")
    saved = open(mp).read()
    fold(batches[1], 1)
    with open(mp, "w") as f:
        f.write(saved)  # crash happened "before" this publish
    _shutil.rmtree(os.path.join(state, "v-1", "dcounts"))  # torn write
    exp0 = spark.createDataFrame(
        [(i, dict(MOR_DOCS)[i]) for i in range(3)], DOC_SCHEMA
    )
    _assert_mor_state_equals(spark, state, exp0)  # old state still live
    fold(batches[1], 1)  # retry overwrites the orphan and publishes
    assert _manifest_text(state) == "mor 1 cafebabe 1 0\n"
    exp = spark.createDataFrame(
        [(i, dict(MOR_DOCS)[i]) for i in range(6)], DOC_SCHEMA
    )
    _assert_mor_state_equals(spark, state, exp)


def test_mor_reingest_after_retire(spark, tmp_path):
    """A RETIRED id re-ingested later must come back: the new delta's
    higher seq outranks the tombstone in the fp resolve, and the counts
    delta adds only the new contributions (the neg-lookup resolves the
    tombstoned chain and finds nothing to subtract) — state equals the
    from-scratch build with the doc present at its new text."""
    from scholarmind_spark.streaming import ledger_mor_retire
    from scholarmind_spark.streaming.pipeline import _ledger_ingest_fn_mor

    state = str(tmp_path / "state")
    fold = _ledger_ingest_fn_mor(state, "cafebabe", compact_every=10)
    rows = dict(MOR_DOCS)
    fold(spark.createDataFrame([(i, rows[i]) for i in range(3)], DOC_SCHEMA), 0)
    ledger_mor_retire(
        spark, state, spark.createDataFrame([(1,)], "id bigint")
    )
    exp = spark.createDataFrame(
        [(0, rows[0]), (2, rows[2])], DOC_SCHEMA
    )
    _assert_mor_state_equals(spark, state, exp)

    # re-ingest id 1 with NEW text in the next stream batch
    fold(
        spark.createDataFrame([(1, rows[1] + " reborn")], DOC_SCHEMA), 1
    )
    exp = spark.createDataFrame(
        [(0, rows[0]), (1, rows[1] + " reborn"), (2, rows[2])], DOC_SCHEMA
    )
    _assert_mor_state_equals(spark, state, exp)


def test_mor_base_bucketed_and_pruned_lookup_exact(spark, tmp_path):
    """The r12 chain-read residual, closed: a compaction-written base is
    hash-partitioned by id bucket with a corpus-sized bucket count
    (sidecar-recorded), and the fold's neg-lookup resolve over the
    PRUNED chain (touched buckets only) equals the full-chain resolve
    on the batch ids — while genuinely scanning fewer base rows."""
    import os

    from pyspark.sql import functions as F

    from scholarmind_spark.operators.ledger import ledger_mor_resolve_fp
    from scholarmind_spark.streaming.pipeline import (
        _ledger_ingest_fn_mor,
        _mor_chains,
        _mor_touched_buckets,
    )
    from scholarmind_spark.streaming.state import read_sidecar

    state = str(tmp_path / "state")
    # bucket_rows=3 over 12 docs → 4 buckets in the compacted base
    fold = _ledger_ingest_fn_mor(
        state, "cafebabe", compact_every=2, bucket_rows=3
    )
    for bid, batch in enumerate(_mor_batches(spark)):
        fold(batch, bid)
    assert _manifest_text(state) == "mor 3 cafebabe 3 2\n"
    version, base_v = 3, 2

    # base layout: bucket=N partition dirs + the sidecar — the v-2 base
    # resolves 9 docs (fold 3's three live in the delta): ceil(9/3) = 3
    nb = int(read_sidecar(state, base_v, "nbuckets.txt"))
    assert nb == 3
    bucket_dirs = [
        d
        for d in os.listdir(os.path.join(state, f"v-{base_v}", "fp"))
        if d.startswith("bucket=")
    ]
    assert 1 < len(bucket_dirs) <= nb

    # a 2-id batch prunes to ≤ 2 buckets and resolves identically
    ids = spark.createDataFrame([(0,), (7,)], "id bigint")
    touched = _mor_touched_buckets(ids, state, base_v)
    assert touched is not None and len(touched) <= 2
    pruned, _ = _mor_chains(spark, state, base_v, version, fp_buckets=touched)
    full, _ = _mor_chains(spark, state, base_v, version)
    assert pruned.count() < full.count()
    res_p = sorted(
        (r.id, r.n, tuple(r.hs))
        for r in ledger_mor_resolve_fp(pruned)
        .join(ids, "id", "left_semi")
        .collect()
    )
    res_f = sorted(
        (r.id, r.n, tuple(r.hs))
        for r in ledger_mor_resolve_fp(full)
        .join(ids, "id", "left_semi")
        .collect()
    )
    assert res_p == res_f and len(res_p) == 2


def test_mor_touched_buckets_canonicalize_id_type(spark, tmp_path):
    """xxhash64 is TYPE-sensitive (int and long hash differently), so
    the probe must hash caller ids AS THE STATE STORES THEM: for every
    single id, an IntegerType probe column computes the same touched
    bucket as the stored LongType — and an int-typed retirement
    actually retires (tombstones written, counts decremented) instead
    of pruning the base rows away and silently no-opping."""
    from pyspark.sql import functions as F

    from scholarmind_spark.streaming import ledger_mor_retire
    from scholarmind_spark.streaming.pipeline import (
        _ledger_ingest_fn_mor,
        _mor_touched_buckets,
    )
    from scholarmind_spark.streaming.state import read_manifest

    state = str(tmp_path / "state")
    fold = _ledger_ingest_fn_mor(
        state, "cafebabe", compact_every=2, bucket_rows=2
    )
    for bid, batch in enumerate(_mor_batches(spark)):
        fold(batch, bid)
    base_v = read_manifest(state).base

    # per-id bucket parity: probe typed int == probe typed long
    for i in range(12):
        long_b = _mor_touched_buckets(
            spark.createDataFrame([(i,)], "id bigint"), state, base_v
        )
        int_b = _mor_touched_buckets(
            spark.createDataFrame([(i,)], "id int"), state, base_v
        )
        assert int_b == long_b, f"id {i}: int {int_b} != long {long_b}"

    # end-to-end: retire base-resident ids with an INT-typed id column —
    # ids 2..4 live only in the v-2 base (0, 1 were revised in deltas)
    ledger_mor_retire(
        spark, state, spark.createDataFrame([(2,), (3,), (4,)], "id int")
    )
    rows = dict(MOR_DOCS)
    rows[0] += " r3"
    rows[1] += " r2"
    exp = spark.createDataFrame(
        [(i, t) for i, t in rows.items() if i not in (2, 3, 4)], DOC_SCHEMA
    )
    _assert_mor_state_equals(spark, state, exp)


# ------------------------------------------- streaming ANN index fold


def _vec_rows(n0, n, dim=8, bump=0.0):
    return [
        (i, [float((i * 7 + j * 3) % 5) + bump + (10.0 if i % 2 else 0.0)
             for j in range(dim)])
        for i in range(n0, n0 + n)
    ]


def test_stream_vector_ingest_state_equals_full_rebuild(spark, tmp_path):
    """Three folds (insert, insert, revise) maintain the IVF-PQ index:
    the published state's query answer equals ivfadc_topk over the
    latest version of every vector under the SAME frozen codebooks, and
    the resolved enc state holds exactly one row per id."""
    import os

    from pyspark.sql import functions as F

    from scholarmind_spark.operators.pq import ivfadc_topk
    from scholarmind_spark.streaming.pipeline import (
        _vector_ingest_fn,
        ann_state_query,
        vector_state_enc,
    )

    VS = "vec_id long, embedding array<double>"
    state = str(tmp_path / "state")
    fold = _vector_ingest_fn(
        state, "feedbeef", m=2, dim=8, coarse_ids=[0, 1], codebook_ids=[0, 1, 2, 3]
    )
    b0 = _vec_rows(0, 6)
    b1 = _vec_rows(6, 6)
    rev = [(2, [9.9] * 8), (7, [0.1] * 8)]  # revise two earlier ids
    fold(spark.createDataFrame(b0, VS), 0)
    fold(spark.createDataFrame(b1, VS), 1)
    fold(spark.createDataFrame(rev, VS), 2)
    # MoR manifest: version 2, base = the creation compaction (v-0)
    assert _manifest_text(state) == "mor 2 feedbeef 2 0\n"

    latest = {i: v for i, v in b0 + b1}
    latest.update(dict(rev))
    full = spark.createDataFrame(sorted(latest.items()), VS)
    # frozen codebooks: the creation-batch subset (ids 0-3 of batch 0)
    coarse = spark.createDataFrame(
        [(i, dict(b0)[i]) for i in (0, 1)], "cid long, cvec array<double>"
    )
    cb_src = spark.createDataFrame(
        [(i, dict(b0)[i]) for i in (0, 1, 2, 3)], VS
    )
    q = full.filter(F.col("vec_id") == 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    expect = sorted(
        map(tuple, ivfadc_topk(
            full, q, k=5, m=2, dim=8, nprobe=2, coarse_df=coarse,
            codebook_df=cb_src.select(
                F.col("vec_id").cast("long").alias("code"),
                F.col("embedding").alias("cvec"),
            ),
        ).collect())
    )
    got_df = ann_state_query(spark, state, q, k=5, nprobe=2)
    got = sorted(map(tuple, got_df.collect()))
    assert got == expect

    enc = vector_state_enc(spark, state)
    assert enc.count() == enc.select("id").distinct().count() == 12
    # the revision actually moved id 2's codes: the base row (v-0) and
    # the delta row (v-2) disagree, and the resolved state sides with
    # the delta
    base2 = (
        spark.read.parquet(os.path.join(state, "v-0", "enc"))
        .filter("id = 2").first()
    )
    delta2 = (
        spark.read.parquet(os.path.join(state, "v-2", "denc"))
        .filter("id = 2").first()
    )
    res2 = enc.filter("id = 2").first()
    assert (int(base2.cell), list(base2.pq)) != (delta2.cell, list(delta2.pq))
    assert (res2.cell, list(res2.pq)) == (delta2.cell, list(delta2.pq))


def test_vector_ingest_delta_layout_and_pruned_query(spark, tmp_path):
    """The MoR claims, checked on disk: incremental version dirs hold
    ONLY a denc delta (never a full enc), compaction materializes a
    cell-partitioned base on schedule, and the pruned query read stays
    exact when a revision MOVES a vector across cells — the superseded
    base row never resurrects, whichever side of the prune it falls on."""
    import os

    from pyspark.sql import functions as F

    from scholarmind_spark.operators.pq import ivfadc_topk
    from scholarmind_spark.streaming.pipeline import (
        _vector_ingest_fn,
        ann_state_query,
    )

    VS = "vec_id long, embedding array<double>"
    state = str(tmp_path / "state")
    fold = _vector_ingest_fn(
        state, "feedbeef", m=2, dim=8, coarse_ids=[0, 1],
        codebook_ids=[0, 1, 2, 3], compact_every=2,
    )
    b0 = _vec_rows(0, 6)
    fold(spark.createDataFrame(b0, VS), 0)          # v-0: creation base
    fold(spark.createDataFrame(_vec_rows(6, 4), VS), 1)  # v-1: delta
    # v-2: compaction (2 - 0 >= 2); then v-3: delta that MOVES id 0
    # (coarse centroid 0's own row) to the far cell
    fold(spark.createDataFrame(_vec_rows(10, 2), VS), 2)
    moved = [(0, [float(x) + 10.0 for x in dict(b0)[1]])]
    fold(spark.createDataFrame(moved, VS), 3)
    assert _manifest_text(state) == "mor 3 feedbeef 3 2\n"

    # disk layout: v-1/v-3 are deltas, v-2 is a cell-partitioned base
    assert os.path.isdir(os.path.join(state, "v-3", "denc"))
    assert not os.path.isdir(os.path.join(state, "v-3", "enc"))
    cell_dirs = [
        d for d in os.listdir(os.path.join(state, "v-2", "enc"))
        if d.startswith("cell=")
    ]
    assert len(cell_dirs) >= 1

    latest = {i: v for i, v in b0 + _vec_rows(6, 4) + _vec_rows(10, 2)}
    latest.update(dict(moved))
    full = spark.createDataFrame(sorted(latest.items()), VS)
    coarse = spark.createDataFrame(
        [(i, dict(b0)[i]) for i in (0, 1)], "cid long, cvec array<double>"
    )
    cb = spark.createDataFrame(
        [(i, dict(b0)[i]) for i in (0, 1, 2, 3)], VS
    ).select(
        F.col("vec_id").cast("long").alias("code"),
        F.col("embedding").alias("cvec"),
    )
    # nprobe=1: each query reads ONE cell — the prune path where the
    # moved id's stale base row sits in the probed cell but its live
    # delta row does not (and vice versa for the other query)
    for qid in (3, 5):
        q = full.filter(F.col("vec_id") == qid).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        expect = sorted(map(tuple, ivfadc_topk(
            full, q, k=4, m=2, dim=8, nprobe=1,
            coarse_df=coarse, codebook_df=cb,
        ).collect()))
        got = sorted(map(tuple, ann_state_query(
            spark, state, q, k=4, nprobe=1
        ).collect()))
        assert got == expect, f"query {qid}"


def test_vector_ingest_empty_coarse_raises(spark, tmp_path):
    """A creation batch with NONE of the coarse id rows must refuse
    loudly (the _resolve_sub_rows 'empty codebook' twin) — not freeze
    an empty coarse codebook that routes every later fold to zero
    cells and silently answers nothing."""
    import pytest

    from scholarmind_spark.streaming.pipeline import _vector_ingest_fn

    VS = "vec_id long, embedding array<double>"
    fold = _vector_ingest_fn(
        str(tmp_path / "state"), "feedbeef", m=2, dim=8,
        coarse_ids=[0, 1], codebook_ids=[100, 101],
    )
    batch = spark.createDataFrame(_vec_rows(100, 4), VS)  # no ids 0-1
    with pytest.raises(ValueError, match="empty coarse codebook"):
        fold(batch, 0)


def test_stream_vector_ingest_redelivery_and_lineage(spark, tmp_path):
    import pytest

    from scholarmind_spark.streaming.pipeline import _vector_ingest_fn

    VS = "vec_id long, embedding array<double>"
    state = str(tmp_path / "state")
    fold = _vector_ingest_fn(
        state, "feedbeef", m=2, dim=8, coarse_ids=[0, 1], codebook_ids=[0, 1]
    )
    fold(spark.createDataFrame(_vec_rows(0, 4), VS), 0)
    assert _manifest_text(state) == "mor 0 feedbeef 0 0\n"
    fold(spark.createDataFrame(_vec_rows(0, 4), VS), 0)  # re-delivery
    assert _manifest_text(state) == "mor 0 feedbeef 0 0\n"
    other = _vector_ingest_fn(
        state, "0ddba11", m=2, dim=8, coarse_ids=[0, 1], codebook_ids=[0, 1]
    )
    with pytest.raises(ValueError, match="lineage"):
        other(spark.createDataFrame(_vec_rows(4, 2), VS), 1)


def test_ann_state_query_unpublished_returns_none(spark, tmp_path):
    from scholarmind_spark.streaming.pipeline import ann_state_query

    assert ann_state_query(
        spark, str(tmp_path / "nothing"),
        spark.createDataFrame([], "query_id long, query_vec array<double>"),
    ) is None


def test_vector_surfaces_refuse_cow_manifest_with_vector_advice(
    spark, tmp_path
):
    """A vector-index surface pointed at a copy-on-write manifest state
    (a hand-written ``MANIFEST`` line without the ``mor`` field) must
    refuse with VECTOR remediation (fresh state_path / re-fold the
    corpus), naming the vector index as the state it expected."""
    import os

    import pytest as _pytest

    from scholarmind_spark.operators.sketchledger import hdr_state_build
    from scholarmind_spark.streaming.pipeline import (
        _vector_ingest_fn,
        ann_state_query,
        vector_state_enc,
    )

    cow = str(tmp_path / "cow")
    hdr_state_build(
        spark.createDataFrame(_fold_rows(0), FOLD_SCHEMA), ["day", "seg"], "value"
    ).write.parquet(os.path.join(cow, "v-0"))
    with open(os.path.join(cow, "MANIFEST"), "w") as f:
        f.write("0 cafebabe 3\n")
    before = sorted(os.listdir(cow))
    q = spark.createDataFrame([], "query_id long, query_vec array<double>")
    for attempt in (
        lambda: ann_state_query(spark, cow, q),
        lambda: vector_state_enc(spark, cow),
        lambda: _vector_ingest_fn(cow, "cafebabe", m=2, dim=8)(
            spark.createDataFrame(_vec_rows(0, 4),
                                  "vec_id long, embedding array<double>"), 4
        ),
    ):
        with _pytest.raises(ValueError, match="not a vector-index state"):
            attempt()
    assert sorted(os.listdir(cow)) == before
    assert _manifest_text(cow) == "0 cafebabe 3\n"


def test_vector_ingest_residual_mode_frozen_and_matches_batch(spark, tmp_path):
    """A residual-encoded index state: the encoding mode is FROZEN into
    the state (a resumed fold passing by_residual=False still encodes
    residuals — mixing raw and residual codes in one table would be
    silent garbage), and the state query equals the batch
    ivfadc_topk(by_residual=True) under the same frozen codebooks."""
    from pyspark.sql import functions as F

    from scholarmind_spark.operators.pq import ivfadc_topk
    from scholarmind_spark.streaming.pipeline import (
        _vector_ingest_fn,
        ann_state_query,
    )
    from scholarmind_spark.streaming.state import read_sidecar

    VS = "vec_id long, embedding array<double>"
    state = str(tmp_path / "state")
    fold = _vector_ingest_fn(
        state, "feedbeef", m=2, dim=8, coarse_ids=[0, 1],
        codebook_ids=[0, 1, 2, 3], by_residual=True,
    )
    b0 = _vec_rows(0, 6)
    b1 = _vec_rows(6, 6)
    fold(spark.createDataFrame(b0, VS), 0)
    # resume with the WRONG creation arg: mode must come from the state
    wrong = _vector_ingest_fn(
        state, "feedbeef", m=2, dim=8, by_residual=False
    )
    wrong(spark.createDataFrame(b1, VS), 1)
    assert read_sidecar(state, 1, "encmode.txt") == "residual"

    full = spark.createDataFrame(sorted(dict(b0 + b1).items()), VS)
    coarse = spark.createDataFrame(
        [(i, dict(b0)[i]) for i in (0, 1)], "cid long, cvec array<double>"
    )
    cb = spark.createDataFrame(
        [(i, dict(b0)[i]) for i in (0, 1, 2, 3)], VS
    ).select(
        F.col("vec_id").cast("long").alias("code"),
        F.col("embedding").alias("cvec"),
    )
    q = full.filter(F.col("vec_id") == 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    expect = sorted(map(tuple, ivfadc_topk(
        full, q, k=5, m=2, dim=8, nprobe=2, coarse_df=coarse,
        codebook_df=cb, by_residual=True,
    ).collect()))
    got = sorted(map(tuple, ann_state_query(
        spark, state, q, k=5, nprobe=2
    ).collect()))
    assert got == expect


def test_vector_ingest_geometry_frozen_and_matches_batch(spark, tmp_path):
    """The index geometry (m subspaces of width dim/m) is STATE: a
    resumed fold passing a smaller m with the same width still writes
    m=2 codes (4-code rows in an 8-code table would carry a NULL ADC),
    and the reader, which takes no geometry, ranks on every subspace —
    equal to ivfadc_topk over the latest corpus."""
    from pyspark.sql import functions as F

    from scholarmind_spark.operators.pq import ivfadc_topk
    from scholarmind_spark.streaming.pipeline import (
        _vector_ingest_fn,
        ann_state_query,
        vector_state_enc,
    )

    VS = "vec_id long, embedding array<double>"
    state = str(tmp_path / "state")
    fold = _vector_ingest_fn(
        state, "feedbeef", m=2, dim=8, coarse_ids=[0, 1],
        codebook_ids=[0, 1, 2, 3],
    )
    b0 = _vec_rows(0, 6)
    b1 = _vec_rows(6, 6)
    fold(spark.createDataFrame(b0, VS), 0)
    # resume with the WRONG geometry: m and w must come from the state
    _vector_ingest_fn(state, "feedbeef", m=1, dim=4)(
        spark.createDataFrame(b1, VS), 1
    )
    assert {len(r.pq) for r in vector_state_enc(spark, state).collect()} == {2}

    full = spark.createDataFrame(sorted(dict(b0 + b1).items()), VS)
    coarse = spark.createDataFrame(
        [(i, dict(b0)[i]) for i in (0, 1)], "cid long, cvec array<double>"
    )
    cb = spark.createDataFrame(
        [(i, dict(b0)[i]) for i in (0, 1, 2, 3)], VS
    ).select(
        F.col("vec_id").cast("long").alias("code"),
        F.col("embedding").alias("cvec"),
    )
    q = full.filter(F.col("vec_id").isin(4, 9)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    expect = sorted(map(tuple, ivfadc_topk(
        full, q, k=5, m=2, dim=8, nprobe=2, coarse_df=coarse, codebook_df=cb,
    ).collect()))
    got = sorted(map(tuple, ann_state_query(
        spark, state, q, k=5, nprobe=2
    ).collect()))
    assert got == expect


def test_ann_state_query_refined_matches_batch_refine(spark, tmp_path):
    """The refine stage on the STREAMING surface: ann_state_query_refined
    over a folded state (raw mode, deltas standing) equals the batch
    ivfadc_refine_topk under the same frozen codebooks — exact
    distances, exact ranks — and in RESIDUAL mode (the production
    recipe) the refined answer equals the residual batch refine.  The
    state stores m-int codes only, so the exact stage draws raw vectors
    from the caller-supplied corpus relation."""
    from pyspark.sql import functions as F

    from scholarmind_spark.operators.pq import ivfadc_refine_topk
    from scholarmind_spark.streaming.pipeline import (
        _vector_ingest_fn,
        ann_state_query_refined,
    )

    VS = "vec_id long, embedding array<double>"
    b0 = _vec_rows(0, 6)
    b1 = _vec_rows(6, 6)
    rev = [(2, [9.9] * 8), (7, [0.1] * 8)]
    latest = dict(b0 + b1)
    latest.update(dict(rev))
    full = spark.createDataFrame(sorted(latest.items()), VS)
    coarse = spark.createDataFrame(
        [(i, dict(b0)[i]) for i in (0, 1)], "cid long, cvec array<double>"
    )
    cb = spark.createDataFrame(
        [(i, dict(b0)[i]) for i in (0, 1, 2, 3)], VS
    ).select(
        F.col("vec_id").cast("long").alias("code"),
        F.col("embedding").alias("cvec"),
    )
    q = full.filter(F.col("vec_id") == 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    for residual in (False, True):
        state = str(tmp_path / f"state_{residual}")
        fold = _vector_ingest_fn(
            state, "feedbeef", m=2, dim=8, coarse_ids=[0, 1],
            codebook_ids=[0, 1, 2, 3], by_residual=residual,
        )
        fold(spark.createDataFrame(b0, VS), 0)
        fold(spark.createDataFrame(b1, VS), 1)
        fold(spark.createDataFrame(rev, VS), 2)  # delta stack stands
        expect = sorted(map(tuple, ivfadc_refine_topk(
            full, q, k=4, rerank=8, m=2, dim=8, nprobe=2,
            coarse_df=coarse, codebook_df=cb, by_residual=residual,
        ).collect()))
        got = sorted(map(tuple, ann_state_query_refined(
            spark, state, q, raw_df=full, k=4, rerank=8, nprobe=2,
        ).collect()))
        assert got == expect, f"residual={residual}"


def test_ann_state_query_refined_unpublished_returns_none(spark, tmp_path):
    from scholarmind_spark.streaming.pipeline import ann_state_query_refined

    empty = spark.createDataFrame([], "query_id long, query_vec array<double>")
    assert ann_state_query_refined(
        spark, str(tmp_path / "nothing"), empty,
        raw_df=spark.createDataFrame([], "vec_id long, embedding array<double>"),
    ) is None


def test_vector_index_retire(spark, tmp_path):
    """vector_index_retire publishes a tombstone delta as its own
    version: retired ids vanish from queries and the resolved state
    (== a rebuild over the survivors), absent ids are no-ops, the
    stream high-water is unchanged so the next fold proceeds, a
    re-ingest after retirement resurrects the id, and the next
    COMPACTION purges tombstones physically from the base files."""
    import os

    from pyspark.sql import functions as F

    from scholarmind_spark.streaming.pipeline import (
        _vector_ingest_fn,
        ann_state_query,
        vector_index_retire,
        vector_state_enc,
    )

    VS = "vec_id long, embedding array<double>"
    state = str(tmp_path / "state")
    fold = _vector_ingest_fn(
        state, "feedbeef", m=2, dim=8, coarse_ids=[0, 1],
        codebook_ids=[0, 1, 2, 3], compact_every=4,
    )
    b0, b1 = _vec_rows(0, 6), _vec_rows(6, 6)
    fold(spark.createDataFrame(b0, VS), 0)
    fold(spark.createDataFrame(b1, VS), 1)

    retired = spark.createDataFrame([(3,), (7,), (999,)], "id bigint")
    vector_index_retire(spark, state, retired)
    # upto unchanged
    assert _manifest_text(state) == "mor 2 feedbeef 1 0\n"
    enc = vector_state_enc(spark, state)
    assert sorted(r.id for r in enc.collect()) == [
        i for i in range(12) if i not in (3, 7)
    ]
    # a query never returns a retired id, from any probed cell
    full = spark.createDataFrame(sorted(dict(b0 + b1).items()), VS)
    q = full.filter(F.col("vec_id") == 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got_ids = {
        r.neighbor_id
        for r in ann_state_query(
            spark, state, q, k=12, nprobe=2
        ).collect()
    }
    assert not ({3, 7} & got_ids) and got_ids

    # stream resumes; batch 2 re-ingests id 3 (resurrection) and the
    # NEXT fold compacts (new_v=4 - base 0 >= 4): tombstones purged
    fold(spark.createDataFrame([(3, [0.5] * 8)], VS), 2)
    fold(spark.createDataFrame(_vec_rows(12, 2), VS), 3)
    # compacted base
    assert _manifest_text(state) == "mor 4 feedbeef 3 4\n"
    base = spark.read.parquet(os.path.join(state, "v-4", "enc"))
    ids = sorted(r.id for r in base.collect())
    assert 7 not in ids and 3 in ids  # purged vs resurrected
    assert not [r for r in base.collect() if r.tomb]


def _cellvec(c, i, dim=8):
    # a vector firmly inside coarse cell c (centroid [100c]*dim), with
    # a small deterministic per-id jitter
    return [100.0 * c + ((i * 7 + j * 3) % 5) for j in range(dim)]


def _cells_state(spark, tmp_path, name, compact_every=2):
    """A 3-cell corpus folded as (creation base, delta, delta->compact):
    centroids 0/1/2 at [0]*8/[100]*8/[200]*8, ids 3-8 spread across the
    cells, deltas touching ONLY cell 0."""
    from scholarmind_spark.streaming.pipeline import _vector_ingest_fn

    VS = "vec_id long, embedding array<double>"
    state = str(tmp_path / name)
    fold = _vector_ingest_fn(
        state, "feedbeef", m=2, dim=8, coarse_ids=[0, 1, 2],
        codebook_ids=[0, 1, 2, 3], compact_every=compact_every,
    )
    b0 = [(0, [0.0] * 8), (1, [100.0] * 8), (2, [200.0] * 8)] + [
        (3, _cellvec(0, 3)), (4, _cellvec(0, 4)),
        (5, _cellvec(1, 5)), (6, _cellvec(1, 6)),
        (7, _cellvec(2, 7)), (8, _cellvec(2, 8)),
    ]
    fold(spark.createDataFrame(b0, VS), 0)                     # v-0 base
    b1 = [(10, _cellvec(0, 10)), (11, _cellvec(0, 11))]
    fold(spark.createDataFrame(b1, VS), 1)                     # v-1 delta
    b2 = [(12, _cellvec(0, 12))]
    fold(spark.createDataFrame(b2, VS), 2)                     # v-2 compact
    return state, b0, b1, b2


def test_vec_chain_pruned_to_cells_resolves_like_full_chain(spark, tmp_path):
    """A chain read pruned to some cells keeps only those cells' base
    rows plus every delta row, and resolves like the full chain within
    those cells — also for an id a delta moved OUT of a pruned-in cell,
    whose stale base row must lose the seq race to the delta."""
    from pyspark.sql import functions as F

    from scholarmind_spark.operators.ledger import mor_resolve
    from scholarmind_spark.streaming.pipeline import _vec_chain, _vector_ingest_fn
    from scholarmind_spark.streaming.state import read_manifest

    VS = "vec_id long, embedding array<double>"
    state = str(tmp_path / "state")
    fold = _vector_ingest_fn(
        state, "feedbeef", m=2, dim=8, coarse_ids=[0, 1, 2],
        codebook_ids=[0, 1, 2, 3], compact_every=2,
    )
    b0 = [(0, [0.0] * 8), (1, [100.0] * 8), (2, [200.0] * 8)] + [
        (i, _cellvec(c, i)) for c, i in ((0, 3), (1, 5), (1, 6), (2, 7))
    ]
    fold(spark.createDataFrame(b0, VS), 0)  # v-0: creation base
    # v-1: a one-cell delta: a fresh id, and id 5 moved from cell 1 to 0
    fold(spark.createDataFrame([(10, _cellvec(0, 10)), (5, _cellvec(0, 5))], VS), 1)
    head = read_manifest(state, "vector-index")
    assert (head.base, head.version) == (0, 1)

    def chain(cells):
        return _vec_chain(spark, state, 0, 1, cells=cells)

    def resolved(cells_read, cells_kept):
        return sorted(
            (r.id, r.cell, tuple(r.pq))
            for r in mor_resolve(chain(cells_read))
            .where(F.col("cell").isin(cells_kept))
            .collect()
        )

    assert sorted(r.id for r in chain(None).collect()) == [0, 1, 2, 3, 5, 5, 6, 7, 10]
    # cell 1's base rows (1, 5, 6) and the whole delta (5, 10)
    assert sorted(r.id for r in chain([1]).collect()) == [1, 5, 5, 6, 10]
    for cells in ([0], [1], [2], [0, 2]):
        assert resolved(cells, cells) == resolved(None, cells), cells
    assert [r[0] for r in resolved([1], [1])] == [1, 6]


def test_partial_compaction_rewrites_only_touched_cells(spark, tmp_path):
    """Per-cell incremental compaction: the deltas touched only cell 0,
    so the compaction fragment holds ONLY a cell=0 partition; cells 1-2
    stay owned by the creation fragment via the cellmap (carried by
    reference, zero bytes rewritten); the creation fragment survives GC
    because it is still referenced; and the resolved state + query
    answers are identical to a full-chain read."""
    import os

    from pyspark.sql import functions as F

    from scholarmind_spark.operators.pq import ivfadc_topk
    from scholarmind_spark.streaming.pipeline import (
        _vec_frags,
        ann_state_query,
        vector_state_enc,
    )

    state, b0, b1, b2 = _cells_state(spark, tmp_path, "pc")
    # base moved
    assert _manifest_text(state) == "mor 2 feedbeef 2 2\n"
    enc2 = os.path.join(state, "v-2", "enc")
    assert sorted(
        d for d in os.listdir(enc2) if d.startswith("cell=")
    ) == ["cell=0"]
    # ... holding exactly cell 0's rows: its standing ids and both batches
    assert sorted(r.id for r in spark.read.parquet(enc2).collect()) == [
        0, 3, 4, 10, 11, 12,
    ]
    cm = {
        (r["cell"], r["frag"])
        for r in spark.read.parquet(
            os.path.join(state, "v-2", "cellmap")
        ).collect()
    }
    assert cm == {(0, 2), (1, 0), (2, 0)}
    assert _vec_frags(state, 2) == [0, 2]
    assert os.path.isdir(os.path.join(state, "v-0", "enc"))  # referenced

    enc = vector_state_enc(spark, state)
    assert enc.count() == enc.select("id").distinct().count() == 12
    # query parity with the batch operator under the frozen codebooks
    VS = "vec_id long, embedding array<double>"
    full = spark.createDataFrame(sorted(dict(b0 + b1 + b2).items()), VS)
    coarse = spark.createDataFrame(
        [(i, dict(b0)[i]) for i in (0, 1, 2)], "cid long, cvec array<double>"
    )
    cb = spark.createDataFrame(
        [(i, dict(b0)[i]) for i in (0, 1, 2, 3)], VS
    ).select(
        F.col("vec_id").cast("long").alias("code"),
        F.col("embedding").alias("cvec"),
    )
    q = full.filter(F.col("vec_id").isin([4, 6])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    expect = sorted(map(tuple, ivfadc_topk(
        full, q, k=5, m=2, dim=8, nprobe=2, coarse_df=coarse,
        codebook_df=cb,
    ).collect()))
    got = sorted(map(tuple, ann_state_query(
        spark, state, q, k=5, nprobe=2
    ).collect()))
    assert got == expect


def test_partial_compaction_keeps_one_location_per_id(spark, tmp_path):
    """A re-ingest that MOVES an id across cells: the compaction's
    victim scan rewrites the OLD cell too (not just the insert cell),
    so the id exists in exactly one owned (fragment, cell) location —
    a stale copy left behind would be re-stamped with a fresh seq by a
    later compaction of its cell and resurrect over the current row."""
    import os

    from pyspark.sql import functions as F

    from scholarmind_spark.streaming.pipeline import (
        _vector_ingest_fn,
        vector_state_enc,
    )

    VS = "vec_id long, embedding array<double>"
    state = str(tmp_path / "mig")
    fold = _vector_ingest_fn(
        state, "feedbeef", m=2, dim=8, coarse_ids=[0, 1, 2],
        codebook_ids=[0, 1, 2, 3], compact_every=2,
    )
    b0 = [(0, [0.0] * 8), (1, [100.0] * 8), (2, [200.0] * 8),
          (5, _cellvec(1, 5)), (7, _cellvec(2, 7))]
    fold(spark.createDataFrame(b0, VS), 0)
    # id 5 migrates cell 1 -> cell 0; next fold compacts
    fold(spark.createDataFrame([(5, _cellvec(0, 5))], VS), 1)
    fold(spark.createDataFrame([(9, _cellvec(0, 9))], VS), 2)
    enc2 = os.path.join(state, "v-2", "enc")
    # victim scan touched cell 1 (id 5's old home) as well as cell 0
    assert sorted(
        d for d in os.listdir(enc2) if d.startswith("cell=")
    ) == ["cell=0", "cell=1"]
    res = {r["id"]: r["cell"] for r in vector_state_enc(spark, state).collect()}
    assert res[5] == 0 and res[7] == 2 and len(res) == 6
    # physically: id 5 appears in exactly one owned partition
    cm = spark.read.parquet(os.path.join(state, "v-2", "cellmap"))
    owned = []
    for r in cm.collect():
        part = os.path.join(state, f"v-{r['frag']}", "enc", f"cell={r['cell']}")
        if os.path.isdir(part):
            owned.append(
                spark.read.parquet(part).withColumn(
                    "cell", F.lit(int(r["cell"]))
                )
            )
    allrows = owned[0]
    for o in owned[1:]:
        allrows = allrows.unionByName(o)
    assert allrows.filter("id = 5").count() == 1
    # a LATER compaction touching only cell 1 must not resurrect id 5
    fold(spark.createDataFrame([(6, _cellvec(1, 6))], VS), 3)
    fold(spark.createDataFrame([(16, _cellvec(1, 16))], VS), 4)  # compacts
    res2 = {r["id"]: r["cell"] for r in vector_state_enc(spark, state).collect()}
    assert res2[5] == 0 and len(res2) == 8


@pytest.mark.parametrize("family", ["vector", "ledger"])
def test_retire_triggers_compaction_at_bound(spark, tmp_path, family):
    """Repeated retires on a quiescent stream must not grow the delta
    chain past compact_every (the ADVICE-flagged unbounded-read path),
    for the vector index and the dedup ledger alike: the transaction
    reads the fold's recorded cadence and compacts in place of
    publishing another delta — tombstones purge physically, survivors
    stay, and the documented 'deltas <= compact_every versions' bound
    holds after every call."""
    import os

    from scholarmind_spark.streaming import ledger_mor_retire, ledger_state_mor
    from scholarmind_spark.streaming.pipeline import (
        _ledger_ingest_fn_mor,
        _vector_ingest_fn,
        vector_index_retire,
        vector_state_enc,
    )

    state = str(tmp_path / "ret")
    if family == "vector":
        VS = "vec_id long, embedding array<double>"
        fold = _vector_ingest_fn(
            state, "feedbeef", m=2, dim=8, coarse_ids=[0, 1, 2],
            codebook_ids=[0, 1, 2, 3], compact_every=2,
        )
        b0 = [(0, [0.0] * 8), (1, [100.0] * 8), (2, [200.0] * 8),
              (3, _cellvec(0, 3)), (4, _cellvec(0, 4)),
              (5, _cellvec(1, 5)), (7, _cellvec(2, 7))]
        batch0 = spark.createDataFrame(b0, VS)
        batch1 = spark.createDataFrame([(9, _cellvec(0, 9))], VS)
        retire = vector_index_retire

        def live():
            return {r["id"] for r in vector_state_enc(spark, state).collect()}
    else:
        docs = dict(MOR_DOCS)
        fold = _ledger_ingest_fn_mor(state, "feedbeef", compact_every=2)
        batch0 = spark.createDataFrame(
            [(i, docs[i]) for i in (0, 1, 2, 3, 4, 5, 7)], DOC_SCHEMA
        )
        batch1 = spark.createDataFrame([(9, docs[9])], DOC_SCHEMA)
        retire = ledger_mor_retire

        def live():
            return {r["id"] for r in ledger_state_mor(spark, state)[0].collect()}

    fold(batch0, 0)                                        # v-0 base
    one = lambda i: spark.createDataFrame([(i,)], "id long")  # noqa: E731
    retire(spark, state, one(3))                           # v-1 delta
    assert _manifest_text(state) == "mor 1 feedbeef 0 0\n"
    retire(spark, state, one(4))                           # v-2 COMPACTS
    # chain reset: deltas <= compact_every
    assert _manifest_text(state) == "mor 2 feedbeef 0 2\n"
    if family == "vector":
        # tombstones purged physically from the touched cell partition
        enc2 = os.path.join(state, "v-2", "enc")
        assert sorted(
            d for d in os.listdir(enc2) if d.startswith("cell=")
        ) == ["cell=0"]
        ids0 = {
            r["id"]
            for r in spark.read.parquet(
                os.path.join(enc2, "cell=0")
            ).collect()
        }
        assert ids0 == {0}
    else:
        # the new base holds only the survivors, counts resolved with it
        base_ids = {
            r["id"]
            for r in spark.read.parquet(
                os.path.join(state, "v-2", "fp")
            ).collect()
        }
        assert base_ids == {0, 1, 2, 5, 7}
        _assert_mor_state_equals(spark, state, spark.createDataFrame(
            [(i, docs[i]) for i in (0, 1, 2, 5, 7)], DOC_SCHEMA
        ))
    assert live() == {0, 1, 2, 5, 7}
    # stream resumes: the high-water mark survived both transactions
    fold(batch1, 1)
    assert live() == {0, 1, 2, 5, 7, 9}


def test_fragment_cap_forces_full_rewrite(spark, tmp_path, monkeypatch):
    """Fragment fan-in is bounded: when a compaction would leave more
    than _VEC_MAX_FRAGS live fragments, it falls back to a FULL rewrite
    — one fragment owns every cell again and GC reclaims the rest a
    cycle later."""
    import os

    import scholarmind_spark.streaming.pipeline as pl

    monkeypatch.setattr(pl, "_VEC_MAX_FRAGS", 2)
    VS = "vec_id long, embedding array<double>"
    state = str(tmp_path / "cap")
    fold = pl._vector_ingest_fn(
        state, "feedbeef", m=2, dim=8, coarse_ids=[0, 1, 2],
        codebook_ids=[0, 1, 2, 3], compact_every=1,
    )
    b0 = [(0, [0.0] * 8), (1, [100.0] * 8), (2, [200.0] * 8)]
    fold(spark.createDataFrame(b0, VS), 0)                 # v-0: all cells
    # compact_every=1: every fold compacts; touch one cell per fold
    fold(spark.createDataFrame([(3, _cellvec(0, 3))], VS), 1)  # frags {0,1}
    assert pl._vec_frags(state, 1) == [0, 1]
    # touching cell 1 would make frags {0,1,2} > cap -> full rewrite
    fold(spark.createDataFrame([(5, _cellvec(1, 5))], VS), 2)
    assert pl._vec_frags(state, 2) == [2]
    cm = spark.read.parquet(os.path.join(state, "v-2", "cellmap"))
    assert {int(r["frag"]) for r in cm.collect()} == {2}
    res = {r["id"] for r in pl.vector_state_enc(spark, state).collect()}
    assert res == {0, 1, 2, 3, 5}
    # one more fold: GC reclaims the no-longer-referenced fragments
    fold(spark.createDataFrame([(7, _cellvec(2, 7))], VS), 3)
    assert not os.path.isdir(os.path.join(state, "v-0"))
    assert not os.path.isdir(os.path.join(state, "v-1"))
