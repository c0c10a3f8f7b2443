"""Excel presentation sink (reference K1/K2, ``src/utils/excel_formatter.py``).

The workbook layout mirrors the reference: a ``Results`` sheet with the
common+metric+AI columns over ALL rows, then one sheet per source filtered
by ``source_type`` with per-source column subsets
(``excel_formatter.py:83-154``).  ``title_link`` is computed ONCE upstream
with the main.py:280-306 priority (wos > pubmed > sciencedirect > doi) and
the sink only renders it — resolving the reference's internal inconsistency
with ``excel_formatter.py:326-338`` (SURVEY §2.1 K2 note).

This is presentation, not data plane: rows are collected to the driver, so
it is for human-sized outputs (the reference caps uploads at 16 MB).  The
engine-native sink for pipeline output is ``sinks.parquet``.
``write_excel`` emits a real .xlsx via the vendored stdlib writer
(:mod:`..xlsxlite` — no openpyxl needed); ``write_sheets_csv`` provides the
same sheet layout as CSV files.
"""

from __future__ import annotations

import csv
import os

from pyspark.sql import DataFrame

from scholarmind_spark.sinks.parquet import flatten_for_presentation

# Per-sheet column subsets (excel_formatter.py:49-99,109-117,127-135,145-153);
# intersected with existing columns at write time (reference P7).
COMMON_COLUMNS = [
    "title", "authors", "journal", "publication_year", "doi", "doi_link",
    "title_link", "source_type", "abstract", "keywords",
]
SHEET_SPECS: dict[str, tuple[str | None, list[str]]] = {
    "Results": (None, COMMON_COLUMNS),
    "WOS": ("wos", COMMON_COLUMNS + ["wos_id", "times_cited", "keywords_plus"]),
    "PubMed": ("pubmed", COMMON_COLUMNS + ["pmid", "mesh_terms", "journal_full"]),
    "ScienceDirect": ("sciencedirect", COMMON_COLUMNS + ["url", "volume", "pages"]),
}


def _sheet_rows(df: DataFrame) -> dict[str, tuple[list[str], list[list]]]:
    """Sheet → (columns, rows) of the workbook layout, from ONE collect.

    The flattened frame is collected once, with the ordered union of the
    sheets' columns (each intersected with the frame's, reference P7), and
    split per sheet on the driver.  Every sheet's rows end up in driver
    memory anyway, so per-sheet scans would only re-run the plan."""
    flat = flatten_for_presentation(df)
    sheet_cols = {
        sheet: [c for c in wanted if c in flat.columns]
        for sheet, (_, wanted) in SHEET_SPECS.items()
    }
    cols = list(dict.fromkeys(["source_type", *(c for cs in sheet_cols.values() for c in cs)]))
    rows = flat.select(cols).collect()
    out = {}
    for sheet, (stype, _) in SHEET_SPECS.items():
        idx = [cols.index(c) for c in sheet_cols[sheet]]
        out[sheet] = (
            sheet_cols[sheet],
            [[r[i] for i in idx] for r in rows if stype is None or r[0] == stype],
        )
    return out


LINK_FONT_COLOR = "0563C1"  # excel_formatter.py:319,342 link style

# Per-column widths (excel_formatter.py:227-251 column_width_mapping,
# default 20 for unlisted columns — :260).  Reference-only metric columns
# (中科院分区 etc.) are kept for parity with enriched frames that carry them.
COLUMN_WIDTHS = {
    "title": 60, "abstract": 60, "ai_summary": 60, "authors": 30,
    "full_authors": 40, "journal": 25, "publication_year": 20, "pmid": 15,
    "doi": 15, "wos_id": 15, "affiliation": 40, "keywords": 30,
    "mesh_terms": 30, "publication_type": 20, "source_type": 15,
    "doi_link": 25, "pubmed_link": 25, "wos_link": 25,
    "sciencedirect_link": 25, "impact_factor": 15, "中科院分区": 15,
    "sciif": 15, "sci": 15, "sciUp": 15,
}
DEFAULT_COLUMN_WIDTH = 20

# Columns whose cell value IS a URL — each links to itself
# (excel_formatter.py:313-319 does this for doi_link).
SELF_LINK_COLUMNS = {"doi_link", "pubmed_link", "wos_link", "sciencedirect_link"}


def content_row_height(values: list[object]) -> int | None:
    """Content-scaled row height (excel_formatter.py:275-290): +15 units
    per 100 chars of the longest string cell (capped +100), clamped to
    [20, 150].  Rows with NO non-empty string cell get ``None`` — the
    reference only sets a custom height when ``row_height > 0``
    (excel_formatter.py:289), leaving Excel's default otherwise."""
    height = 0
    for v in values:
        if isinstance(v, str) and v:
            height = max(height, 15 + min(len(v) // 100 * 15, 100))
    if height == 0:
        return None
    return min(max(height, 20), 150)


def hyperlink_targets(cols: list[str], values: list[object]) -> dict[int, str]:
    """Column-index → URL for one data row (excel_formatter.py:293-342).

    ``title`` links to the row's ``title_link`` (computed upstream with the
    main.py:280-306 source priority — wos > pubmed > sciencedirect > doi);
    URL-valued columns link to themselves.  Indices are 0-based."""
    row = dict(zip(cols, values))
    out: dict[int, str] = {}
    for i, c in enumerate(cols):
        v = row.get(c)
        if c in SELF_LINK_COLUMNS and v:
            out[i] = v
        elif c == "title" and row.get("title_link"):
            out[i] = row["title_link"]
    return out


def write_excel(df: DataFrame, path: str) -> None:
    """Styled multi-sheet workbook (driver-side): solid-fill bold header +
    frozen panes, content-scaled row heights, the reference's per-column
    width mapping (excel_formatter.py:227-260, default 20), wrap-text data
    cells, and REAL hyperlink cells for titles and link columns (K1/K2,
    excel_formatter.py:280-345).

    Written with the vendored stdlib xlsx writer (:mod:`..xlsxlite`) —
    deterministic output, no openpyxl dependency.  The rows reach the
    driver in one collect (:func:`_sheet_rows`); this is the presentation
    sink for human-sized outputs — the engine-native pipeline sink is
    ``sinks.parquet``."""
    from scholarmind_spark.xlsxlite import Sheet, write_xlsx

    sheets: dict[str, Sheet] = {}
    for sheet, (cols, data) in _sheet_rows(df).items():
        rows: list[list] = [list(cols)]
        # header row height 25 (excel_formatter.py:263)
        row_heights: dict[int, int] = {0: 25}
        hyperlinks: dict[tuple[int, int], str] = {}
        for r, values in enumerate(data, 1):
            rows.append(values)
            h = content_row_height(values)
            if h is not None:
                row_heights[r] = h
            for i, url in hyperlink_targets(cols, values).items():
                hyperlinks[(r, i)] = url
        sheets[sheet] = Sheet(
            rows,
            col_widths={
                i: COLUMN_WIDTHS.get(c, DEFAULT_COLUMN_WIDTH)
                for i, c in enumerate(cols)
            },
            row_heights=row_heights,
            hyperlinks=hyperlinks,
            header=True,  # bold-on-fill header + freeze under row 1
        )
    write_xlsx(path, sheets, link_color=LINK_FONT_COLOR)


def write_sheets_csv(df: DataFrame, out_dir: str) -> dict[str, str]:
    """Same sheet layout as one CSV per sheet (openpyxl-free fallback),
    from the same single collect as :func:`write_excel`.  Returns sheet →
    file path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for sheet, (cols, data) in _sheet_rows(df).items():
        p = os.path.join(out_dir, f"{sheet}.csv")
        with open(p, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(cols)
            w.writerows(data)
        paths[sheet] = p
    return paths
