"""Multimodal columns: image/audio/video as opaque ``binary`` + typed metadata.

Engine extension for training-data pipelines (no reference semantics —
the reference is text-only).  Design per the 100 TB posture:

- **Data model**: one ``content: binary`` column plus a typed
  ``media: struct<media_type, mime, width, height, duration_ms, codec>``
  metadata struct.  Metadata travels with the row so filters
  (``media.media_type = 'image'``, ``media.width >= 64``) push down and
  prune without touching the payload bytes; Parquet stores the binary
  column separately so pruned scans never read it (check ``ReadSchema``
  in ``.explain``).
- **Compute model**: decode / resize / feature-extract / frame-sample run
  as Arrow-batched ``mapInPandas`` stages — the only sane shape for
  per-blob Python work.  Batch size is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (session factory sets
  4096) so a partition of large blobs never materializes at once.
- **Stubbing**: the real pixel decoders (PIL/ffmpeg) are not in this
  container.  Each operator tries the real library and otherwise applies
  a clearly-marked DETERMINISTIC FAKE over the raw bytes, so the
  Spark-side plumbing — schema, partitioning, UDF signature, batch shape —
  is real and fully tested, and swapping in the real decoder is a
  one-function change.

Byte-level operators (``media_byte_stats``) are pure built-in expressions
and have exact DuckDB oracle twins.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("codec", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType()),
        T.StructField("media", MEDIA_META_SCHEMA),
    ]
)


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multimodal table derived from ``documents``: the text
    bytes become the opaque payload, metadata derives from doc_id.  This
    stands in for a real (path, bytes, metadata) ingest such as
    ``spark.read.format('binaryFile')`` over an object store."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_id = F.col("doc_id")
    mt = (
        F.when(doc_id % 3 == 0, F.lit("image"))
        .when(doc_id % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    return d.select(
        doc_id.alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            mt.alias("media_type"),
            F.concat(mt, F.lit("/synthetic")).alias("mime"),
            F.when(mt == "image", (doc_id % 16 + 1) * 64).otherwise(F.lit(None)).cast("int").alias("width"),
            F.when(mt == "image", (doc_id % 9 + 1) * 64).otherwise(F.lit(None)).cast("int").alias("height"),
            F.when(mt != "image", (doc_id % 100 + 1) * 1000).otherwise(F.lit(None)).cast("long").alias("duration_ms"),
            F.when(mt == "video", F.lit("h264"))
            .when(mt == "audio", F.lit("pcm"))
            .otherwise(F.lit(None))
            .cast("string")
            .alias("codec"),
        ).alias("media"),
    )


def media_byte_stats(df: DataFrame) -> DataFrame:
    """Byte-level payload stats — pure built-in expressions (octet length,
    md5 of the blob, metadata projections).  The cheap pre-filter stage of
    a multimodal pipeline: corrupt/empty payloads drop before any Python
    decode runs."""
    return df.select(
        "media_id",
        F.col("media.media_type").alias("media_type"),
        F.length("content").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
        F.coalesce(F.col("media.width") * F.col("media.height"), F.lit(0)).alias("n_pixels"),
        F.coalesce(F.col("media.duration_ms"), F.lit(0)).alias("duration_ms"),
    )


MEDIA_BYTE_STATS_SQL = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       CASE WHEN doc_id % 3 = 0 THEN (doc_id % 16 + 1) * 64 * ((doc_id % 9 + 1) * 64) ELSE 0 END AS n_pixels,
       CASE WHEN doc_id % 3 <> 0 THEN (doc_id % 100 + 1) * 1000 ELSE 0 END AS duration_ms
FROM documents
"""


_DECODE_SCHEMA = (
    "media_id bigint, media_type string, width int, height int, "
    "n_channels int, decode_ok boolean, decoder string"
)


def _pil_decoder():
    """The REAL-library decode branch — the one-function swap the module
    docstring promises.  Imported lazily (worker-side) so the module
    loads in containers without PIL; raises ImportError when absent.
    Dims/channels come from the DECODED PIXELS, never from the declared
    metadata — the real branch is exactly what catches metadata lies."""
    import io

    from PIL import Image

    def decode(content, meta):
        try:
            img = Image.open(io.BytesIO(content))
            return img.width, img.height, len(img.getbands()), True, "pil"
        except Exception:
            return None, None, None, False, "pil"

    return decode


def _stub_decoder():
    """STUB branch: no image lib in this container.  Deterministic fake:
    trust declared metadata, 3 channels, ok iff payload non-empty."""

    def decode(content, meta):
        if content is None or len(content) == 0:
            return None, None, None, False, "stub"
        return meta["width"], meta["height"], 3, True, "stub"

    return decode


def _decode_batches(
    batches: Iterator[pd.DataFrame], use_pil: bool | None = None
) -> Iterator[pd.DataFrame]:
    """The mapInPandas body of :func:`decode_images`, exposed so tests
    can drive BOTH decoder branches deterministically (the real branch
    with an injected stand-in PIL where the library is absent) and
    assert they share schema and batch shape.  ``use_pil``: None =
    auto-detect (production), True = require the real decoder (raise if
    PIL is missing), False = force the stub."""
    if use_pil is None:
        try:
            decode = _pil_decoder()
        except ImportError:
            decode = _stub_decoder()
    elif use_pil:
        decode = _pil_decoder()
    else:
        decode = _stub_decoder()

    for pdf in batches:
        # zip over columns, not iterrows: no per-row Series construction
        rows = [
            (mid, media["media_type"], *decode(content, media))
            for mid, media, content in zip(
                pdf["media_id"], pdf["media"], pdf["content"]
            )
            # callers may hand in pre-filtered frames: a null media
            # struct must degrade, not TypeError the whole task
            if media is not None and media["media_type"] == "image"
        ]
        yield pd.DataFrame(
            rows,
            columns=[
                "media_id", "media_type", "width", "height",
                "n_channels", "decode_ok", "decoder",
            ],
        )


def decode_images(df: DataFrame, use_pil: bool | None = None) -> DataFrame:
    """Decode stage: blob → (width, height, channels) per image row.

    Uses PIL when importable; otherwise a DETERMINISTIC FAKE that reads
    the declared metadata and validates the payload is non-empty.  Either
    way the operator contract (schema, one output row per input row,
    Arrow batching) is identical — pinned by the branch-parity tests in
    tests/test_multimodal.py.  ``use_pil`` threads through to
    :func:`_decode_batches` (None = auto-detect per worker)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _decode_batches(batches, use_pil)

    # Filter BEFORE the Python stage: metadata-only predicate prunes
    # non-image rows at the scan, so audio/video payload bytes are never
    # shipped through Arrow.
    return df.filter(F.col("media.media_type") == "image").mapInPandas(fn, _DECODE_SCHEMA)


_RESIZE_SCHEMA = "media_id bigint, width int, height int, content binary"


def resize_images(df: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize stage (stub): recompute target dims preserving aspect ratio;
    payload passthrough (a real impl would re-encode pixels — PIL not in
    container).  The dim math IS the real contract and is tested."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, media, content in zip(pdf["media_id"], pdf["media"], pdf["content"]):
                if media is None:
                    continue  # null metadata struct: nothing to resize
                w, h = media["width"], media["height"]
                if w is None or h is None or max(w, h) <= 0:
                    continue  # absent/degenerate dims (0×0 would div-zero)
                scale = min(1.0, max_side / max(w, h))
                out.append((mid, int(w * scale), int(h * scale), content))
            yield pd.DataFrame(out, columns=["media_id", "width", "height", "content"])

    return df.filter(F.col("media.media_type") == "image").mapInPandas(fn, _RESIZE_SCHEMA)


_FEATURE_SCHEMA = "media_id bigint, feature array<float>"
_N_FEATURES = 16


def extract_features(df: DataFrame) -> DataFrame:
    """Feature-extract stage: 16-bin byte-value histogram of the payload,
    L1-normalized.  This is REAL computation on the bytes (not a stub) —
    a stand-in embedding with the exact shape a CLIP/wav2vec extractor
    would emit, feeding the similarity operators downstream."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for content in pdf["content"].to_numpy():
                buf = np.frombuffer(content or b"\x00", dtype=np.uint8)
                hist = np.bincount(buf >> 4, minlength=_N_FEATURES).astype("float64")
                feats.append((hist / (hist.sum() or 1.0)).astype("float32"))
            yield pd.DataFrame({"media_id": pdf["media_id"].to_numpy(), "feature": feats})

    from scholarmind_spark.util import spread

    return spread(df.select("media_id", "content")).mapInPandas(fn, _FEATURE_SCHEMA)


_FRAME_SCHEMA = "media_id bigint, frame_no int, frame_ts_ms bigint, frame binary"


def frame_sample(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame-sample stage for video rows: emit N evenly-spaced (frame_no,
    ts, bytes) rows per input row — a 1→N flatMap through mapInPandas.
    STUB decode: frames are equal slices of the payload (ffmpeg not in
    container); timestamps are the real even-spacing math."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, media, content in zip(pdf["media_id"], pdf["media"], pdf["content"]):
                if media is None:
                    continue  # null metadata struct — see decode_images
                content = content or b""
                dur = media["duration_ms"] or 0
                step = max(1, len(content) // n_frames)
                for i in range(n_frames):
                    out.append(
                        (
                            mid,
                            i,
                            (dur * i) // n_frames,
                            bytes(content[i * step : (i + 1) * step]),
                        )
                    )
            yield pd.DataFrame(out, columns=["media_id", "frame_no", "frame_ts_ms", "frame"])

    return df.filter(F.col("media.media_type") == "video").mapInPandas(fn, _FRAME_SCHEMA)
