"""Parser golden tests (SURVEY §5 item 2): continuation lines, multi-value
tags, AID routing, WOS header/EF handling, SD entry rejection."""

from __future__ import annotations

import os

import pytest

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def pubmed_rows(spark):
    from scholarmind_spark.sources import scan_pubmed

    df = scan_pubmed(spark, os.path.join(FIXTURES, "pubmed.txt"))
    return {r.pmid: r for r in df.collect()}


def test_pubmed_record_count_and_filter(pubmed_rows):
    # record 99999999 has no AB → filtered (P4)
    assert set(pubmed_rows) == {"12345678", "11111111"}


def test_pubmed_continuation_and_fields(pubmed_rows):
    r = pubmed_rows["12345678"]
    assert r.title == "A study of example things in continued title text"
    assert r.abstract == "Background: something. Methods: something else."
    assert r.full_authors == ["Smith, John A", "Doe, Jane B"]
    assert r.authors == ["Smith JA", "Doe JB"]
    assert r.journal == "J Example Res"  # TA wins over JT
    assert r.journal_full == "Journal of Example Research"
    assert r.doi == "10.1000/jer.2023.001"  # first LID, [doi] stripped by AID/LID routing at norm time
    assert r.issn == ["1234-5678 (Print)", "8765-4321 (Electronic)"]
    assert r.mesh_terms == ["Humans"]
    assert r.keywords == ["example keyword"]
    assert (r.volume, r.issue, r.pages, r.language) == ("42", "3", "100-110", "eng")
    assert r.publication_date == "2023 Mar 15"
    assert r.source_type == "pubmed"


def test_pubmed_duplicated_scalar_tag_takes_first(pubmed_rows):
    r = pubmed_rows["11111111"]
    assert r.title == "First title"  # D4: scalar column ← first element
    assert r.abstract == "Second record abstract with a continuation line."


@pytest.fixture(scope="module")
def wos_rows(spark):
    from scholarmind_spark.sources import scan_wos

    df = scan_wos(spark, os.path.join(FIXTURES, "wos.txt"))
    return {r.wos_id: r for r in df.collect()}


def test_wos_header_ef_and_filter(wos_rows):
    # header skipped, EF honored, no-abstract record filtered
    assert set(wos_rows) == {"WOS:000123456700001"}


def test_wos_fields(wos_rows):
    r = wos_rows["WOS:000123456700001"]
    assert r.title == "A study of example things"
    assert r.authors == ["Smith, JA", "Doe, JB"]  # continuation = extra author
    assert r.full_authors == ["Smith, John A.", "Doe, Jane B."]
    assert r.abstract.endswith("a continuation line for testing.")
    assert r.journal == "JOURNAL OF EXAMPLE RESEARCH"
    assert r.doi == "10.1000/jer.2023.001"
    assert r.publication_year == "2023"
    assert r.keywords == ["machine learning", "information retrieval"]
    assert r.keywords_plus == ["EXAMPLES", "RESEARCH"]
    assert r.times_cited == "12"
    assert r.issn == ["1234-5678"]
    assert r.source_type == "wos"


@pytest.fixture(scope="module")
def sd_rows(spark):
    from scholarmind_spark.sources import scan_sciencedirect

    df = scan_sciencedirect(spark, os.path.join(FIXTURES, "sciencedirect.txt"))
    return {r.title: r for r in df.collect()}


def test_sd_entry_rejection(sd_rows):
    # middle entry lacks Volume/Abstract/Keywords → rejected (P5)
    assert set(sd_rows) == {"A study of example things,", "Article-id paged entry,"}


def test_sd_full_entry(sd_rows):
    r = sd_rows["A study of example things,"]
    assert r.authors == ["Smith, J.", "Doe, J."]
    assert r.journal == "Journal of Example Research"
    assert (r.volume, r.issue) == ("42", "3")
    assert r.publication_year == "2023"
    assert r.pages == "100-110"
    assert r.doi == "10.1000/jer.2023.001"
    assert r.url == "https://www.sciencedirect.com/science/article/pii/S0000000023000011"
    assert r.abstract == "Background: something. Methods: something else."
    assert r.keywords == ["example", "keywords", "here"]
    assert r.source_type == "sciencedirect"


def test_sd_article_id_pages_and_bare_markers(sd_rows):
    r = sd_rows["Article-id paged entry,"]
    assert r.pages == "e25469"
    assert r.volume == "7"
    assert r.doi == "10.1000/jer.2024.777"
    assert r.abstract == "Multi-line abstract first line. Second line of the abstract."
    assert r.keywords == ["comma", "separated", "keywords"]


def test_wos_csv(spark):
    from scholarmind_spark.sources import scan_wos_csv

    df = scan_wos_csv(spark, os.path.join(FIXTURES, "wos.csv"))
    rows = {r.wos_id: r for r in df.collect()}
    assert set(rows) == {"WOS:000111111100001", "WOS:000111111100002"}
    r = rows["WOS:000111111100001"]
    assert r.title == "CSV record one"
    assert r.authors == ["Smith, JA", "Doe, JB"]
    assert r.keywords == ["kw1", "kw2"]
    assert r.times_cited == "5"
    assert r.publication_year == "2021"
    assert r.source_type == "wos"


def test_pubmed_aid_only_doi():
    """AID '... [doi]' must populate doi when no LID tag exists; LID wins
    when both are present (reference pubmed_parser.py:56-64,131)."""
    from scholarmind_spark.sources.pubmed import parse_pubmed_file

    aid_only = "PMID- 1\nTI  - T\nAB  - A\nAID - 10.1/abc [doi]"
    rec = parse_pubmed_file(aid_only)[0]
    assert rec["doi"] == "10.1/abc"

    both = "PMID- 2\nTI  - T\nAB  - A\nLID - 10.2/lid [doi]\nAID - 10.1/abc [doi]"
    rec = parse_pubmed_file(both)[0]
    assert rec["doi"] == "10.2/lid"


def test_crlf_and_bom_normalization():
    """Windows exports: CRLF line endings and a BOM must not leak into
    field values (pubmed, wos, sciencedirect)."""
    from scholarmind_spark.sources.pubmed import parse_pubmed_file
    from scholarmind_spark.sources.wos import parse_wos_file

    unix = "PMID- 1\nTI  - T\nAB  - abstract text\n"
    win = "﻿" + unix.replace("\n", "\r\n")
    assert parse_pubmed_file(win) == parse_pubmed_file(unix)
    assert parse_pubmed_file(win)[0]["abstract"] == ["abstract text"]  # no \r

    unix_w = "PT J\nUT WOS:1\nTI T\nAB abs\nER\n"
    win_w = "﻿" + unix_w.replace("\n", "\r\n")
    assert parse_wos_file(win_w) == parse_wos_file(unix_w)


def test_record_id_stable_across_repartition(spark):
    """record_id must be a pure function of (content, file, ordinal) —
    NOT partition layout.  monotonically_increasing_id would fail this
    under input re-splits / task retries and misalign the keyed LLM
    attach (U1/J2); stable_record_id recomputes identically."""
    from scholarmind_spark.sources import scan_pubmed

    path = os.path.join(FIXTURES, "pubmed.txt")
    a = scan_pubmed(spark, path).select("record_id", "pmid")
    b = scan_pubmed(spark, path).repartition(7).select("record_id", "pmid")
    rows_a = {r.pmid: r.record_id for r in a.collect()}
    rows_b = {r.pmid: r.record_id for r in b.collect()}
    assert rows_a == rows_b and len(rows_a) > 0
    # distinct records get distinct ids
    assert len(set(rows_a.values())) == len(rows_a)


def test_record_id_stable_wos_tabular(spark):
    from scholarmind_spark.sources import scan_wos_csv

    path = os.path.join(FIXTURES, "wos.csv")
    a = {r.wos_id: r.record_id for r in scan_wos_csv(spark, path).collect()}
    b = {
        r.wos_id: r.record_id
        for r in scan_wos_csv(spark, path).repartition(5).collect()
    }
    assert a == b and len(set(a.values())) == len(a) > 0


def test_pubmed_lid_pii_not_taken_as_doi():
    """MEDLINE records commonly carry 'LID x [pii]' before 'LID y [doi]':
    only a [doi]-tagged (or untagged) LID is a DOI (r6 review finding —
    the PII string was keying cross-source dedup)."""
    from scholarmind_spark.sources.pubmed import parse_pubmed_file

    rec = parse_pubmed_file(
        "PMID- 1\n"
        "TI  - T\n"
        "LID - S2213-2600(20)30079-5 [pii]\n"
        "LID - 10.1016/S2213-2600(20)30079-5 [doi]\n"
        "AB  - Abstract text.\n"
    )[0]
    assert rec["doi"] == "10.1016/S2213-2600(20)30079-5"

    # pii-only LID: fall through to AID [doi]
    rec = parse_pubmed_file(
        "PMID- 2\n"
        "TI  - T\n"
        "LID - S1-2(3)4-5 [pii]\n"
        "AID - 10.9999/abc [doi]\n"
        "AB  - A.\n"
    )[0]
    assert rec["doi"] == "10.9999/abc"


def test_sciencedirect_header_scan_and_bounded_year():
    """Field extraction must stop at the Abstract marker, accept
    'doi: 10.x' with a space, and never take a title range or DOI prefix
    as the publication year (r6 review findings, all repro-confirmed)."""
    from scholarmind_spark.sources.sciencedirect import parse_sd_entry

    entry = "\n".join([
        "Smith, J., Jones, K.,",
        "Trends 2010-2023 in example research,",
        "Journal of Examples,",
        "Volume 7,",
        "2024,",
        "Pages 100-110,",
        "doi: 10.1000/jex.2024.7",
        "Abstract: The cohort covered Volume 12 of the registry and "
        "Pages 55 of notes from 1999.",
        "Keywords: a; b",
    ])
    rec = parse_sd_entry(entry)
    assert rec["volume"] == "7"           # not the abstract's "Volume 12"
    assert rec["pages"] == "100-110"      # not the abstract's "Pages 55"
    assert rec["publication_year"] == "2024"  # the year LINE beats the title range
    assert rec["doi"] == "10.1000/jex.2024.7"  # space after 'doi:' accepted


def test_pubmed_pathological_continuation_completes_fast():
    """A million continuation lines must parse in O(n), not O(n²) string
    rebuilds (one hostile record previously pinned the task for hours)."""
    import time

    from scholarmind_spark.sources.pubmed import parse_pubmed_tags

    text = "PMID- 1\nAB  - start\n" + ("      more words\n" * 200_000)
    t0 = time.time()
    recs = parse_pubmed_tags(text)
    assert time.time() - t0 < 20
    assert len(recs) == 1
    ab = recs[0]["AB"][0]
    assert ab.startswith("start more words") and ab.count("more words") == 200_000


def test_pubmed_aid_marker_split_no_backtracking():
    from scholarmind_spark.sources.pubmed import _split_marker, _strip_marker
    import time

    # the old lazy-dot regex went quadratic on a long whitespace run
    hostile = " " * 500_000 + "[doi]X"  # trailing X: must NOT match
    t0 = time.time()
    assert _split_marker(hostile) is None
    assert _strip_marker(hostile) == hostile
    assert time.time() - t0 < 1
    # semantics preserved
    assert _split_marker("10.1/x [doi]") == ("10.1/x", "DOI")
    assert _split_marker("S123 [pii]") == ("S123", "PII")
    assert _split_marker("10.1/x[doi]") is None  # needs whitespace before
    assert _strip_marker("10.1/x  [doi]") == "10.1/x"
    assert _strip_marker("10.1/x") == "10.1/x"


def test_wos_pathological_continuation_completes_fast():
    import time

    from scholarmind_spark.sources.wos import parse_wos_tags

    text = "PT J\nAB start\n" + ("   more words\n" * 200_000) + "ER\n"
    t0 = time.time()
    recs = parse_wos_tags(text)
    assert time.time() - t0 < 20
    assert len(recs) == 1
    assert recs[0]["AB"][0].count("more words") == 200_000


def test_wos_sniff_survives_multibyte_cut():
    from scholarmind_spark.sources.wos import sniff_csv_dialect

    body = ("DOI,Article Title\n10.1/x,caf" + "é" * 10).encode("utf-8")
    # cut mid 'é' (2-byte char): must still sniff utf-8, not fall to latin1
    cut = body[:-1]
    assert cut[-1:] != b""
    enc, sep = sniff_csv_dialect(cut)
    assert enc == "utf-8" and sep == ","


def test_wos_tabular_duplicate_headers_survive(spark):
    from scholarmind_spark.sources.wos import normalize_wos_tabular

    df = spark.createDataFrame(
        [("t", "a1", "a2", "10.1/x")], ["Article Title", "Abstract", "Abstract", "DOI"]
    )
    out = normalize_wos_tabular(df)
    rows = out.collect()
    # first duplicate header wins; the scan completes instead of
    # AMBIGUOUS_REFERENCE
    assert len(rows) == 1 and rows[0]["abstract"] == "a1"


def test_scan_schemas_equal_the_former_ddl(spark):
    """The StructType scan and parse schemas are the DDL text they replace,
    field for field: names, types and nullability (every field nullable,
    ``source_type`` too)."""
    from pyspark.sql.types import _parse_datatype_string

    from scholarmind_spark.schemas import RECORD_SCHEMA
    from scholarmind_spark.sources.base import _PARSE_SCHEMA, _SCAN_SCHEMA

    parse_ddl = RECORD_SCHEMA.simpleString().replace("record_id:bigint,", "")
    scan_ddl = parse_ddl[:-1] + ",_file:string,_ordinal:bigint>"
    for schema, ddl in ((_PARSE_SCHEMA, parse_ddl), (_SCAN_SCHEMA, scan_ddl)):
        expected = _parse_datatype_string(ddl)
        assert [(f.name, f.dataType, f.nullable) for f in schema.fields] == [
            (f.name, f.dataType, f.nullable) for f in expected.fields
        ]
        assert schema == expected


def test_wos_csv_sniff_runs_no_spark_job(spark, tmp_path):
    """Planning a WOS CSV scan runs one job (the CSV reader's header job):
    the dialect is sniffed from the first file's head on the driver, with
    the same result as sniffing the file's first 64 KB."""
    import shutil

    from scholarmind_spark.sources.wos import (
        SNIFF_BYTES,
        read_head,
        scan_wos_csv,
        sniff_csv_dialect,
    )

    path = os.path.join(FIXTURES, "wos.csv")
    with open(path, "rb") as f:
        head = f.read(SNIFF_BYTES)
    for d in ("a", "b"):
        (tmp_path / d).mkdir()
    shutil.copy(path, tmp_path / "a" / "export.csv")
    (tmp_path / "a" / "_SUCCESS").write_bytes(b"")
    (tmp_path / "b" / "export.tsv").write_bytes(b"Article Title\tDOI\nt\t10.1/x\n")
    assert read_head(spark, path) == head
    assert read_head(spark, str(tmp_path / "a")) == head  # skips _SUCCESS
    assert read_head(spark, f"file://{tmp_path}/*/export.*") == head  # first match of a glob
    big = tmp_path / "big.csv"
    big.write_bytes(b"x" * (SNIFF_BYTES + 1000))
    assert len(read_head(spark, str(big))) == SNIFF_BYTES
    with pytest.raises(FileNotFoundError):
        read_head(spark, str(tmp_path / "missing.csv"))

    sc = spark.sparkContext
    sc.setJobGroup("wos_csv_plan", "wos_csv_plan")
    try:
        scan_wos_csv(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("wos_csv_plan")) == 1
    assert sniff_csv_dialect(read_head(spark, path)) == sniff_csv_dialect(head) == ("utf-8", ",")
