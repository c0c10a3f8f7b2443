"""Shared machinery for the record-oriented text scans (S1/S2/S5).

Design: one input file = one row via ``spark.read.text(..., wholetext=True)``
→ ``mapInPandas`` parses records out of each file (Arrow-batched; the
parsing is pure per-file logic, so it parallelizes across files).  The
reference caps uploads at 16 MB/file (``app.py:42``), so per-file
parallelism is the right grain: a 100 TB corpus is millions of small files,
not one giant one, and this scan needs no record-boundary splitting logic.

Parsers emit the fixed RECORD_SCHEMA (SURVEY §1.2: dynamic→fixed is a
deliberate upgrade); ``record_id`` is attached afterwards.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from scholarmind_spark.schemas import ARRAY_COLUMNS, RECORD_COLUMNS, RECORD_FIELDS

PARSE_COLUMNS = [c for c in RECORD_COLUMNS if c != "record_id"]

# mapInPandas output schema = RECORD_SCHEMA minus record_id, every field
# nullable: the parsers emit nulls wherever a record lacks a tag (also in
# source_type, which scan_files overwrites afterwards), and a non-null
# field here makes Spark trust the parser and fail on its nulls.  Built as
# a StructType, not DDL text, so a cold JVM does not start its SQL parser
# to plan a scan.
_PARSE_SCHEMA = StructType(
    [StructField(f.name, f.dataType) for f in RECORD_FIELDS if f.name != "record_id"]
)

# scan_files threads the source file path + within-file record ordinal
# through the parser so record_id can be derived from them.
_SCAN_SCHEMA = StructType(
    [*_PARSE_SCHEMA.fields, StructField("_file", StringType()), StructField("_ordinal", LongType())]
)


def stable_record_id(*extra: Column) -> Column:
    """Deterministic 64-bit record key: ``xxhash64`` over the full record
    content plus any caller-supplied discriminators (source file path,
    within-file ordinal).

    ``monotonically_increasing_id`` values depend on partition layout, so
    they are NOT stable across task retries or input re-splits — with
    speculative execution the keyed LLM attach (U1/J2, ``llm/extract.py``)
    could silently misalign AI columns, the exact bug class the keyed join
    exists to kill.  A content/provenance hash recomputes to the same value
    no matter how the input is split.

    Collision envelope: 64-bit hash → ~50% birthday collision at ~5e9
    records *per attach scope*; the reference's scope is one upload session
    (16 MB/file), orders of magnitude below that.  Byte-identical records
    with identical discriminators share an id by design (content-addressed);
    priority-dedup collapses them downstream.
    """
    return F.xxhash64(*[F.col(c) for c in PARSE_COLUMNS], *extra)


def normalize_newlines(text: str) -> str:
    """Strip a UTF-8 BOM and fold CRLF/CR to LF — real-world exports are
    frequently Windows-encoded, and a trailing ``\\r`` would otherwise leak
    into every field value (the reference reads with pandas/utf-8 and has
    the same latent issue)."""
    if text.startswith("﻿"):
        text = text[1:]
    return text.replace("\r\n", "\n").replace("\r", "\n")


def empty_record() -> dict[str, Any]:
    return {c: None for c in PARSE_COLUMNS}


def records_to_pdf(records: list[dict[str, Any]]) -> pd.DataFrame:
    """Normalize parsed record dicts into the fixed parse schema."""
    out: dict[str, list] = {c: [] for c in PARSE_COLUMNS}
    for rec in records:
        for c in PARSE_COLUMNS:
            v = rec.get(c)
            if c in ARRAY_COLUMNS:
                if v is None:
                    out[c].append(None)
                elif isinstance(v, list):
                    out[c].append([str(x) for x in v])
                else:
                    out[c].append([str(v)])
            else:
                if isinstance(v, list):  # D4 policy: scalar column ← first element
                    v = v[0] if v else None
                out[c].append(None if v is None else str(v))
    # dtype=object even when empty: pd.DataFrame({'c': []}) defaults to
    # float64, which Arrow refuses to cast to list<string> for the array
    # columns (observed on zero-record files).
    return pd.DataFrame(out, columns=PARSE_COLUMNS, dtype=object)


def scan_files(
    spark: SparkSession,
    path: str,
    parse_file: Callable[[str], list[dict[str, Any]]],
    source_type: str,
) -> DataFrame:
    """wholetext read → per-file record parse → fixed schema + source tag +
    abstract filter (P4, base_parser.py:49-53) + record_id."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content, fpath in zip(pdf["value"], pdf["_file"]):
                out = records_to_pdf(parse_file(content))
                out["_file"] = fpath
                out["_ordinal"] = list(range(len(out)))
                yield out

    raw = spark.read.text(path, wholetext=True).select(
        "value", F.col("_metadata.file_path").alias("_file")
    )
    parsed = raw.mapInPandas(run, schema=_SCAN_SCHEMA)
    parsed = parsed.withColumn("source_type", F.lit(source_type))
    # P4 guard: under the fixed schema the abstract column always exists;
    # the any-non-null probe of base_parser.py:49-53 degenerates to a plain
    # notnull filter (documented semantic simplification).
    parsed = parsed.filter(F.col("abstract").isNotNull())
    # (file, within-file ordinal) is unique and retry-stable: one file is
    # parsed atomically in one task, so the ordinal never depends on splits.
    parsed = parsed.withColumn(
        "record_id", stable_record_id(F.col("_file"), F.col("_ordinal"))
    )
    return parsed.select(*RECORD_COLUMNS)


def parse_records_df(
    df: DataFrame,
    parse_file: Callable[[str], list[dict[str, Any]]],
    text_col: str = "record_text",
) -> DataFrame:
    """Parse a DataFrame of record strings (one record per row) with the
    given per-file parser — the scan machinery minus the file read, used by
    the correctness gate to prove parser parity against a SQL oracle on
    synthesized records."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            records: list[dict[str, Any]] = []
            for content in pdf[text_col]:
                records.extend(parse_file(content))
            yield records_to_pdf(records)

    return df.select(text_col).mapInPandas(run, schema=_PARSE_SCHEMA)
