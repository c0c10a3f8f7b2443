"""Fold state written by hand in its on-disk format — manifest lines,
``v-N/`` dirs, ``_folded_`` marks, the checkpoint lineage file and the
version sidecars: every fold resumes it, skips re-delivered batch ids,
and refuses a foreign lineage or another layout's state."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from scholarmind_spark.streaming import (
    ann_state_query,
    ledger_mor_retire,
    ledger_state_mor,
    vector_index_retire,
    vector_state_enc,
)
from scholarmind_spark.streaming.pipeline import (
    _ledger_ingest_fn_mor,
    _sketch_fold_fn,
    _vector_ingest_fn,
)
from scholarmind_spark.streaming.state import fold_lineage

FOLD = "day string, seg string, value double"
DOCS = "doc_id bigint, text string"
KEYS = ["day", "seg"]


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _read(path):
    with open(path) as f:
        return f.read()


def _files(root):
    """Every file under ``root`` with its bytes: a state left untouched
    compares equal."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _fp_rows(df):
    return sorted((r.id, r.n, tuple(r.hs)) for r in df.collect())


def _sketch_batches(spark):
    b1 = spark.createDataFrame([("19000", "a", float(v)) for v in range(10)], FOLD)
    b2 = spark.createDataFrame(
        [("19000", "a", float(v)) for v in range(100, 110)], FOLD
    )
    return b1, b2


def _doc_batches(spark):
    d1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "zeta eta theta iota kappa")],
        DOCS,
    )
    d2 = spark.createDataFrame(
        [(2, "a revised second document text"), (3, "lambda mu nu xi omicron")],
        DOCS,
    )
    latest = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "a revised second document text"),
         (3, "lambda mu nu xi omicron")],
        DOCS,
    )
    return d1, d2, latest


def _mor_ledger_base(state, docs):
    """A merge-on-read ledger base ``v-0`` written by hand: fp rows with
    their (seq, tomb) columns, the counts table, the bucket sidecar."""
    from scholarmind_spark.operators.ledger import (
        ledger_fingerprints,
        ledger_shingle_counts,
    )

    fp = ledger_fingerprints(docs)
    fp.select(
        "id", "n", "hs", F.lit(0).cast("int").alias("seq"), F.lit(False).alias("tomb")
    ).write.parquet(os.path.join(state, "v-0", "fp"))
    ledger_shingle_counts(fp).write.parquet(os.path.join(state, "v-0", "counts"))
    _write(os.path.join(state, "v-0", "nbuckets.txt"), "1\n")


def test_checkpoint_lineage_file_is_read_back(tmp_path):
    ck = str(tmp_path / "ck")
    _write(os.path.join(ck, "_sketchfold_lineage"), "cafebabe")
    assert fold_lineage(ck) == "cafebabe"


def test_rename_sketch_state_by_hand(spark, tmp_path):
    from scholarmind_spark.operators.sketchledger import hdr_state_build

    b1, b2 = _sketch_batches(spark)
    state = str(tmp_path / "state")
    hdr_state_build(b1, KEYS, "value").write.parquet(state)
    _write(os.path.join(state, "_folded_cafebabe_3"), "")
    want1 = _rows(hdr_state_build(b1, KEYS, "value"))

    with pytest.raises(ValueError, match="different checkpoint lineage"):
        _sketch_fold_fn(state, KEYS, "value", 5, "deadbeef")(b2, 4)
    with pytest.raises(ValueError, match="rename-committed"):
        _ledger_ingest_fn_mor(state, "cafebabe")(b2, 4)
    with pytest.raises(ValueError, match="rename-committed"):
        _vector_ingest_fn(state, "cafebabe", m=2, dim=8)(b2, 4)

    fold = _sketch_fold_fn(state, KEYS, "value", 5, "cafebabe")
    fold(b2, 3)  # re-delivery
    assert _rows(spark.read.parquet(state)) == want1
    fold(b2, 4)
    assert _rows(spark.read.parquet(state)) == _rows(
        hdr_state_build(b1.unionByName(b2), KEYS, "value")
    )
    assert [f for f in os.listdir(state) if f.startswith("_folded_")] == [
        "_folded_cafebabe_4"
    ]


def test_manifest_sketch_and_cow_ledger_state_by_hand(spark, tmp_path):
    """A sketch state in the former copy-on-write manifest layout (a
    ``MANIFEST`` line without the ``mor`` field, ``v-0/`` holding the
    whole state) is refused by every fold and every reader and left
    byte-identical; so is a copy-on-write ledger.  A merge-on-read ledger
    folded with ``compact_every=1`` gives the copy-on-write behaviour."""
    from scholarmind_spark.operators.ledger import (
        ledger_fingerprints,
        ledger_shingle_counts,
    )
    from scholarmind_spark.operators.sketchledger import hdr_state_build

    b1, b2 = _sketch_batches(spark)
    state = str(tmp_path / "sketch")
    hdr_state_build(b1, KEYS, "value").write.parquet(os.path.join(state, "v-0"))
    _write(os.path.join(state, "MANIFEST"), "0 cafebabe 3\n")
    before = _files(state)

    q = spark.createDataFrame([], "query_id long, query_vec array<double>")
    for match, attempt in (
        ("manifest-committed",
         lambda: _sketch_fold_fn(state, KEYS, "value", 5, "cafebabe")(b2, 4)),
        ("copy-on-write", lambda: _ledger_ingest_fn_mor(state, "cafebabe")(b2, 4)),
        ("not a vector-index state",
         lambda: _vector_ingest_fn(state, "cafebabe", m=2, dim=8)(b2, 4)),
        ("not a ledger state", lambda: ledger_state_mor(spark, state)),
        ("not a vector-index state", lambda: vector_state_enc(spark, state)),
        ("not a vector-index state", lambda: ann_state_query(spark, state, q)),
    ):
        with pytest.raises(ValueError, match=match) as err:
            attempt()
        assert "start a fresh state_path" in str(err.value)
        assert _files(state) == before

    # a ledger in the former copy-on-write layout is refused unchanged
    d1, d2, latest = _doc_batches(spark)
    old = str(tmp_path / "old_ledger")
    fp = ledger_fingerprints(d1)
    fp.write.parquet(os.path.join(old, "v-0", "fp"))
    ledger_shingle_counts(fp).write.parquet(os.path.join(old, "v-0", "counts"))
    _write(os.path.join(old, "MANIFEST"), "0 cafebabe 0\n")
    with pytest.raises(ValueError, match="start a fresh state_path"):
        _ledger_ingest_fn_mor(old, "cafebabe")(d2, 1)
    assert _read(os.path.join(old, "MANIFEST")) == "0 cafebabe 0\n"

    # compact_every=1: every fold publishes a fully resolved base, read
    # as plain parquet — the copy-on-write behaviour
    ledger = str(tmp_path / "ledger")
    _mor_ledger_base(ledger, d1)
    _write(os.path.join(ledger, "MANIFEST"), "mor 0 cafebabe 0 0\n")
    _ledger_ingest_fn_mor(ledger, "cafebabe", compact_every=1)(d2, 1)
    assert _read(os.path.join(ledger, "MANIFEST")) == "mor 1 cafebabe 1 1\n"
    fp_dir, counts_dir = (os.path.join(ledger, "v-1", t) for t in ("fp", "counts"))
    want = ledger_fingerprints(latest)
    assert _fp_rows(spark.read.parquet(fp_dir)) == _fp_rows(want)
    assert _rows(spark.read.parquet(counts_dir)) == _rows(ledger_shingle_counts(want))


def test_mor_ledger_state_by_hand(spark, tmp_path):
    from scholarmind_spark.operators.ledger import (
        ledger_fingerprints,
        ledger_shingle_counts,
    )

    d1, d2, latest = _doc_batches(spark)
    state = str(tmp_path / "state")
    _mor_ledger_base(state, d1)
    _write(os.path.join(state, "MANIFEST"), "mor 0 cafebabe 0 0\n")

    with pytest.raises(ValueError, match="manifest-committed"):
        _sketch_fold_fn(state, KEYS, "value", 5, "cafebabe")(d2, 1)
    with pytest.raises(ValueError, match="different checkpoint lineage"):
        _ledger_ingest_fn_mor(state, "deadbeef")(d2, 1)

    fold = _ledger_ingest_fn_mor(state, "cafebabe")
    fold(d2, 0)  # re-delivery
    assert _read(os.path.join(state, "MANIFEST")) == "mor 0 cafebabe 0 0\n"
    fold(d2, 1)
    assert _read(os.path.join(state, "MANIFEST")) == "mor 1 cafebabe 1 0\n"
    got_fp, got_counts = ledger_state_mor(spark, state)
    want = ledger_fingerprints(latest)
    assert _fp_rows(got_fp) == _fp_rows(want)
    assert _rows(got_counts) == _rows(ledger_shingle_counts(want))

    ledger_mor_retire(spark, state, spark.createDataFrame([(1,)], "id bigint"))
    assert _read(os.path.join(state, "MANIFEST")) == "mor 2 cafebabe 1 0\n"
    got_fp, _ = ledger_state_mor(spark, state)
    assert sorted(r.id for r in got_fp.collect()) == [2, 3]


def test_vector_state_by_hand(spark, tmp_path):
    state = str(tmp_path / "state")
    v0 = os.path.join(state, "v-0")
    spark.createDataFrame(
        [(0, [0.0] * 8), (1, [100.0] * 8)], "cid long, cvec array<double>"
    ).write.parquet(os.path.join(v0, "coarse"))
    spark.createDataFrame(
        [(s, c, [100.0 * c] * 4) for s in (0, 1) for c in (0, 1)],
        "sub int, code long, cw array<double>",
    ).write.parquet(os.path.join(v0, "cb"))
    enc = spark.createDataFrame(
        [(0, 0, [0, 0], 0, False), (1, 0, [0, 0], 0, False),
         (2, 1, [1, 1], 0, False), (3, 1, [1, 1], 0, False)],
        "id bigint, cell bigint, pq array<int>, seq int, tomb boolean",
    )
    enc.write.partitionBy("cell").parquet(os.path.join(v0, "enc"))
    spark.createDataFrame([(0, 0), (1, 0)], "cell long, frag int").write.parquet(
        os.path.join(v0, "cellmap")
    )
    _write(os.path.join(v0, "encmode.txt"), "raw\n")
    _write(os.path.join(v0, "frags.txt"), "0\n")
    _write(os.path.join(v0, "encschema.txt"), json.dumps(enc.schema.jsonValue()) + "\n")
    _write(os.path.join(v0, "compactevery.txt"), "8\n")
    _write(os.path.join(state, "MANIFEST"), "mor 0 feedbeef 0 0\n")

    VS = "vec_id long, embedding array<double>"
    batch = spark.createDataFrame([(4, [99.0] * 8), (5, [1.0] * 8)], VS)
    with pytest.raises(ValueError, match="manifest-committed"):
        _sketch_fold_fn(state, KEYS, "value", 5, "feedbeef")(batch, 1)
    with pytest.raises(ValueError, match="different checkpoint lineage"):
        _vector_ingest_fn(state, "deadbeef", m=2, dim=8)(batch, 1)

    fold = _vector_ingest_fn(state, "feedbeef", m=2, dim=8)
    fold(batch, 0)  # re-delivery
    assert _read(os.path.join(state, "MANIFEST")) == "mor 0 feedbeef 0 0\n"
    fold(batch, 1)
    assert _read(os.path.join(state, "MANIFEST")) == "mor 1 feedbeef 1 0\n"
    v1 = os.path.join(state, "v-1")
    sidecars = ("encmode.txt", "frags.txt", "compactevery.txt")
    assert [_read(os.path.join(v1, n)) for n in sidecars] == ["raw\n", "0\n", "8\n"]
    got = {r.id: (r.cell, list(r.pq)) for r in vector_state_enc(spark, state).collect()}
    assert got == {
        0: (0, [0, 0]), 1: (0, [0, 0]), 2: (1, [1, 1]), 3: (1, [1, 1]),
        4: (1, [1, 1]), 5: (0, [0, 0]),
    }

    vector_index_retire(spark, state, spark.createDataFrame([(0,)], "id bigint"))
    assert _read(os.path.join(state, "MANIFEST")) == "mor 2 feedbeef 1 0\n"
    got = sorted(r.id for r in vector_state_enc(spark, state).collect())
    assert got == [1, 2, 3, 4, 5]
