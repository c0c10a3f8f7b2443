"""PubMed tagged-text scan (reference S1, ``src/parsers/pubmed_parser.py``).

Format: records separated by blank lines; field lines
``^([A-Z0-9]+)\\s*-\\s*(.*)``; continuation lines append to the previous
field; tags in MULTI_FIELDS accumulate as arrays (``pubmed_parser.py:32``);
``AID`` values suffixed ``[doi]``/``[pii]`` route to DOI/PII
(``pubmed_parser.py:56-64``); duplicated scalar tags become lists, later
flattened first-element (D4 policy).  :func:`scan_pubmed` reads one
file per task (``wholetext``).
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from scholarmind_spark.sources.base import empty_record, scan_files

MULTI_FIELDS = {"IS", "LID", "FAU", "AU", "AD", "OT", "PHST"}  # pubmed_parser.py:32

TAG_RE = re.compile(r"^([A-Z0-9]+)\s*-\s*(.*)")


def _split_marker(value: str) -> tuple[str, str] | None:
    r"""``"10.1/x [doi]" → ("10.1/x", "DOI")`` — the AID marker split.

    Plain string ops, NOT the old ``^(.*?)\s+\[(doi|pii)\]$`` regex:
    the lazy-dot/``\s+`` combination backtracked quadratically on a long
    whitespace run (a 1 MB-of-spaces AID value pinned the mapInPandas
    task for hours with no exception to retry on)."""
    v = value.rstrip()
    low = v.lower()
    for marker in ("[doi]", "[pii]"):
        if low.endswith(marker):
            head = v[: -len(marker)]
            if head and head[-1].isspace():
                return head.strip(), marker[1:-1].upper()
    return None


def _strip_marker(value: str) -> str:
    """Drop a trailing ``[doi]``/``[pii]`` marker (whitespace-tolerant);
    same backtracking-free rationale as :func:`_split_marker`."""
    r = value.rstrip()
    low = r.lower()
    for marker in ("[doi]", "[pii]"):
        if low.endswith(marker):
            return r[: -len(marker)].rstrip()
    return value

# native tag → standard column (pubmed_parser.py:118-145)
TAG_MAP = {
    "PMID": "pmid",
    "TI": "title",
    "AB": "abstract",
    "DP": "publication_date",
    "AU": "authors",
    "JT": "journal_full",
    "TA": "journal",
    "MH": "mesh_terms",
    "FAU": "full_authors",
    "AD": "affiliation",
    "LID": "doi",
    "IS": "issn",
    "VI": "volume",
    "IP": "issue",
    "PG": "pages",
    "LA": "language",
    "PT": "publication_type",
    "OT": "keywords",
    "EDAT": "entry_date",
    "CRDT": "creation_date",
    "MHDA": "medline_date",
    "SO": "source",
    "CI": "copyright_info",
    "PHST": "publication_history",  # accumulates (MULTI_FIELDS) but has no
    # rename-map entry in the reference; routed to a standard column here so
    # the values aren't silently dropped.
}


def parse_pubmed_tags(text: str) -> list[dict[str, list[str]]]:
    """Tag-level parse: one dict of tag → list-of-values per record."""
    from scholarmind_spark.sources.base import normalize_newlines

    text = normalize_newlines(text)
    records: list[dict[str, list[str]]] = []
    record: dict[str, list[str]] = {}
    current: str | None = None
    for line in text.split("\n"):
        if line.strip() == "":
            if record:
                records.append(record)
                record, current = {}, None
            continue
        m = TAG_RE.match(line)
        if m:
            tag, value = m.group(1), m.group(2).strip()
            if tag == "AID":
                am = _split_marker(value)
                if am:
                    value, tag = am
            record.setdefault(tag, []).append([value])
            current = tag
        elif current and current in record:
            # continuation line → collect the part; values join at flush
            # (in-place += on a list element rebuilt the accumulated
            # string per line — O(n²) on a pathological million-line
            # continuation record)
            record[current][-1].append(line.strip())
    if record:
        records.append(record)
    return [
        {t: [" ".join(parts) for parts in vals] for t, vals in r.items()}
        for r in records
    ]


def _to_record(tags: dict[str, list[str]]) -> dict[str, Any]:
    rec = empty_record()
    # DOI precedence: LID (the reference's rename-map source of the ``doi``
    # column, pubmed_parser.py:131) wins over AID-routed ``[doi]`` values
    # (``:56-64`` routes those to a side field); AID fills in when no LID.
    aid_doi = tags.get("DOI")
    for tag, values in tags.items():
        col = TAG_MAP.get(tag)
        if col is None:
            continue
        if tag in MULTI_FIELDS and col in ("authors", "full_authors", "affiliation",
                                           "issn", "keywords", "publication_history"):
            rec[col] = values
        elif col == "mesh_terms":
            rec[col] = values
        elif col == "doi":
            # LID can carry BOTH '...[pii]' and '...[doi]' entries (common
            # MEDLINE shape); only a [doi]-tagged value — or an untagged
            # one — is a DOI.  Taking values[0] blindly put the PII string
            # in the doi column and broke cross-source dedup keying.
            chosen = next(
                (v for v in values if v.rstrip().endswith("[doi]")),
                next((v for v in values if not v.rstrip().endswith("[pii]")), None),
            )
            if chosen is not None:
                rec[col] = _strip_marker(chosen)
        else:
            rec[col] = values  # scalar columns flatten to first in records_to_pdf
    if rec.get("doi") is None and aid_doi:
        rec["doi"] = aid_doi[0]  # already marker-stripped by AID_RE
    # journal = TA coalesced with JT (D8, pubmed_parser.py:147-151)
    if rec.get("journal") is None and rec.get("journal_full") is not None:
        rec["journal"] = rec["journal_full"]
    return rec


def parse_pubmed_file(text: str) -> list[dict[str, Any]]:
    return [_to_record(t) for t in parse_pubmed_tags(text)]


def scan_pubmed(spark: SparkSession, path: str) -> DataFrame:
    return scan_files(spark, path, parse_pubmed_file, "pubmed")
