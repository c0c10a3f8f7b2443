"""Web of Science scans (reference S2/S3/S4, ``src/parsers/wos_parser.py``).

Tagged "Plain Text / Full Record" format: ``FN``/``VR`` header skipped,
``EF`` terminates, a record starts at ``PT ``, field lines are
``^[A-Z][A-Z0-9] ``, continuations are 3-space-indented lines
(``wos_parser.py:45-109``).

NOTE — documented deviation: the reference strips each line BEFORE testing
the 3-space indent (``wos_parser.py:55,89``), so continuation content
(secondary authors, wrapped abstracts) is silently dropped.  The rebuild
handles continuations properly: for multi-value tags each continuation line
is a new element (matching the actual WOS export semantics), for scalar
tags it appends with a space.

CSV variant: driver-side encoding/separator sniffing over
[utf-8, latin1, iso-8859-1] × [',', '\\t', ';'] on a sample
(``wos_parser.py:111-139``), then a distributed ``spark.read.csv``.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scholarmind_spark.schemas import ARRAY_COLUMNS, RECORD_COLUMNS, RECORD_FIELDS
from scholarmind_spark.sources.base import empty_record, scan_files, stable_record_id
from scholarmind_spark.xlsxlite import read_xlsx

FIELD_RE = re.compile(r"^[A-Z][A-Z0-9] ")
MULTI_TAGS = {"AU", "AF", "C1", "CR"}  # one element per line in WOS exports

# native tag → standard column (wos_parser.py:160-181)
TAG_MAP = {
    "UT": "wos_id",
    "TI": "title",
    "AB": "abstract",
    "PY": "publication_year",
    "PD": "publication_date",
    "AU": "authors",
    "AF": "full_authors",
    "C1": "affiliation",
    "SO": "journal",
    "DI": "doi",
    "SN": "issn",
    "DE": "keywords",
    "ID": "keywords_plus",
    "PT": "publication_type",
    "VL": "volume",
    "IS": "issue",
    "PG": "pages",
    "LA": "language",
    "TC": "times_cited",
}

# CSV/Excel header → standard column (wos_parser.py:185-206)
CSV_MAP = {
    "Article Title": "title",
    "Authors": "authors",
    "Author Full Names": "full_authors",
    "Abstract": "abstract",
    "Journal": "journal",
    "Source Title": "journal",  # header used by current WOS exports
    "DOI": "doi",
    "Publication Year": "publication_year",
    "Publication Date": "publication_date",
    "ISSN": "issn",
    "WOS": "wos_id",
    "UT (Unique WOS ID)": "wos_id",
    "Keywords": "keywords",
    "Author Keywords": "keywords",
    "Volume": "volume",
    "Issue": "issue",
    "Language": "language",
    "Document Type": "publication_type",
    "Addresses": "affiliation",
    "Times Cited, All Databases": "times_cited",
}


def parse_wos_tags(text: str) -> list[dict[str, list[str]]]:
    from scholarmind_spark.sources.base import normalize_newlines

    text = normalize_newlines(text)
    records: list[dict[str, list[str]]] = []
    record: dict[str, list[str]] = {}
    current: str | None = None
    for raw_line in text.split("\n"):
        line = raw_line.rstrip()
        stripped = line.strip()
        if not stripped or stripped.startswith("FN ") or stripped.startswith("VR "):
            continue
        if stripped == "EF":
            break
        if stripped == "ER":
            if record:
                records.append(record)
            record, current = {}, None
            continue
        if line.startswith("PT "):
            if record:
                records.append(record)
            record = {"PT": [[line[3:].strip()]]}
            current = "PT"
        elif FIELD_RE.match(line):
            current = line[:2]
            record.setdefault(current, []).append([line[3:].strip()])
        elif current and line.startswith("   ") and current in record:
            if current in MULTI_TAGS:
                record[current].append([stripped])
            else:
                # collect parts; joined at return (in-place += rebuilt the
                # accumulated string per line — O(n²) on a pathological
                # million-continuation-line record)
                record[current][-1].append(stripped)
    if record:
        records.append(record)
    return [
        {t: [" ".join(parts) for parts in vals] for t, vals in r.items()}
        for r in records
    ]


def _to_record(tags: dict[str, list[str]]) -> dict[str, Any]:
    rec = empty_record()
    for tag, values in tags.items():
        col = TAG_MAP.get(tag)
        if col is None:
            continue
        if tag in MULTI_TAGS or col in ("issn",):
            rec[col] = values
        elif col in ("keywords", "keywords_plus"):
            # DE/ID are '; '-separated single lines → real arrays
            rec[col] = [k.strip() for k in "; ".join(values).split(";") if k.strip()]
        else:
            rec[col] = values
    return rec


def parse_wos_file(text: str) -> list[dict[str, Any]]:
    return [_to_record(t) for t in parse_wos_tags(text)]


def scan_wos(spark: SparkSession, path: str) -> DataFrame:
    return scan_files(spark, path, parse_wos_file, "wos")


def sniff_csv_dialect(sample: bytes) -> tuple[str, str]:
    """Reference's brute-force sniffing (wos_parser.py:115-139), applied to
    a driver-side sample instead of whole-file retries: first
    (encoding, sep) whose parse yields >1 column wins."""
    import csv
    import io

    for encoding in ("utf-8", "latin1", "iso-8859-1"):
        # the sample is a byte-offset cut: a UTF-8 char straddling the cut
        # must not disqualify utf-8 (it silently demoted whole valid-UTF-8
        # corpora to latin1 mojibake) — trim up to 3 trailing bytes before
        # giving up on the encoding
        text = None
        for trim in range(4):
            try:
                text = sample[: len(sample) - trim or None].decode(encoding)
                break
            except UnicodeDecodeError:
                continue
        if text is None:
            continue
        for sep in (",", "\t", ";"):
            try:
                header = next(csv.reader(io.StringIO(text), delimiter=sep))
            except StopIteration:
                continue
            if len(header) > 1:
                return encoding, sep
    return "utf-8", ","


def normalize_wos_tabular(df: DataFrame) -> DataFrame:
    """Shared tabular normalize for the CSV and Excel scans: CSV_MAP rename
    (wos_parser.py:160-212), ';'-split + trim for multi-valued columns,
    fixed-schema back-fill, P3 source tag, P4 abstract filter, record_id."""
    # duplicate export headers make every BY-NAME reference ambiguous
    # (AMBIGUOUS_REFERENCE kills the scan): uniquify physical names first
    # by position, so later occurrences become inert `__dupN` columns
    if len(set(df.columns)) != len(df.columns):
        seen_raw: dict[str, int] = {}
        uniq = []
        for name in df.columns:
            k = seen_raw.get(name, 0)
            seen_raw[name] = k + 1
            uniq.append(name if k == 0 else f"{name}__dup{k}")
        df = df.toDF(*uniq)
    # first matching export header wins per target (e.g. a file carrying
    # both "Journal" and "Source Title" must not produce two `journal`s);
    # a raw column already bearing the target name wins over a rename
    renames: dict[str, str] = {}
    for old, new in CSV_MAP.items():
        if old in df.columns and new not in renames.values() and new not in df.columns:
            renames[old] = new
    df = df.withColumnsRenamed(renames)
    out_cols = []
    for field in RECORD_FIELDS:
        c = field.name
        if c == "record_id":
            continue
        if c in df.columns:
            if c in ARRAY_COLUMNS:
                out_cols.append(
                    F.filter(
                        F.transform(F.split(F.col(c).cast(T.StringType()), ";"),
                                    lambda x: F.trim(x)),
                        lambda x: x != "",
                    ).alias(c)
                )
            else:
                out_cols.append(F.col(c).cast(T.StringType()).alias(c))
        elif c == "source_type":
            out_cols.append(F.lit("wos").alias(c))
        else:
            out_cols.append(F.lit(None).cast(field.dataType).alias(c))
    df = df.select(*out_cols).filter(F.col("abstract").isNotNull())
    # Content-addressed id (no file/ordinal here: the Excel path enters via
    # createDataFrame) — retry-stable, unlike monotonically_increasing_id;
    # byte-identical rows share an id by design (see base.stable_record_id).
    df = df.withColumn("record_id", stable_record_id())
    return df.select(*RECORD_COLUMNS)


SNIFF_BYTES = 64 * 1024


def read_head(spark: SparkSession, path: str) -> bytes:
    """The first :data:`SNIFF_BYTES` of the first input file of ``path``,
    read on the driver through the Hadoop FileSystem, so any URI the CSV
    reader accepts works here too.  Runs no Spark job.

    ``path`` is a file, a directory or a glob.  Of several files the
    lexicographically first is read; in a directory, the ``_``/``.``
    names that Spark's file sources skip are skipped."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    files = []
    for status in fs.globStatus(hpath) or []:
        if not status.isDirectory():
            files.append(status.getPath())
            continue
        files.extend(
            st.getPath()
            for st in fs.listStatus(status.getPath())
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))
        )
    if not files:
        raise FileNotFoundError(f"no input file at {path}")
    first = min(files, key=lambda p: p.toString())
    stream = fs.open(first)
    try:
        return bytes(stream.readNBytes(SNIFF_BYTES))
    finally:
        stream.close()


def scan_wos_csv(spark: SparkSession, path: str) -> DataFrame:
    """WOS CSV/TSV export → standardized records (S3)."""
    encoding, sep = sniff_csv_dialect(read_head(spark, path))
    df = spark.read.csv(path, header=True, sep=sep, encoding=encoding,
                        multiLine=True, escape='"')
    return normalize_wos_tabular(df)


def scan_wos_excel(spark: SparkSession, path: str) -> DataFrame:
    """WOS Excel export → standardized records (S4, wos_parser.py:141-148).

    The reference is a driver-side ``pd.read_excel`` passthrough; here the
    driver parses the workbook (Excel is not a splittable format — WOS
    exports cap at Excel's ~1M row limit) and the rows enter Spark via
    ``createDataFrame``, after which the CSV rename/normalize path applies.

    Parsing uses the vendored stdlib reader (:mod:`..xlsxlite`) so no
    Excel engine is required; if pandas has one installed (openpyxl/xlrd —
    the reference's exact path) it is preferred, since it also covers
    legacy ``.xls``.  Every cell is surfaced as text (``normalize_wos_
    tabular`` casts to string anyway, so the two paths converge): integral
    floats print without the ``.0`` Excel's float storage would add."""
    rows = None
    try:
        import pandas as pd

        pdf = pd.read_excel(path)
        pdf = pdf.astype(object).where(pdf.notna(), None)
        header = [str(c) for c in pdf.columns]
        rows = pdf.values.tolist()
    except ImportError:
        sheets = read_xlsx(path)
        if not sheets:
            raise ValueError(f"workbook has no sheets: {path}")
        grid = next(iter(sheets.values()))  # first sheet, like pd.read_excel
        if not grid:
            raise ValueError(f"workbook sheet is empty: {path}")
        header = ["" if c is None else str(c) for c in grid[0]]
        rows = grid[1:]

    def _text(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return str(v)
        if isinstance(v, float) and v.is_integer():
            return str(int(v))
        return str(v)

    data = [[_text(v) for v in r] for r in rows]
    schema = T.StructType([T.StructField(c, T.StringType()) for c in header])
    return normalize_wos_tabular(spark.createDataFrame(data, schema))
