"""CLI lifecycle (§3.1 mirror) and SQL surface."""

import os

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def test_cli_end_to_end(spark, tmp_path, capsys):
    from scholarmind_spark.cli import main

    out = str(tmp_path / "corpus")
    sheets = str(tmp_path / "sheets")
    rc = main(
        [
            "--pubmed", f"{FIX}/pubmed.txt",
            "--wos", f"{FIX}/wos.txt",
            "--sciencedirect", f"{FIX}/sciencedirect.txt",
            "--template", f"{FIX}/template.yaml",
            "--mock-llm",
            "--output", out,
            "--sheets", sheets,
        ]
    )
    assert rc == 0
    df = spark.read.parquet(out)
    assert df.count() == 3  # 5 parsed, 2 removed by A1 priority dedup
    assert f"wrote 3 records to {out}" in capsys.readouterr().out
    assert {"summary", "method"} <= set(df.columns)
    assert sorted(os.listdir(sheets)) == [
        "PubMed.csv", "Results.csv", "ScienceDirect.csv", "WOS.csv",
    ]


def test_cli_requires_sources(capsys):
    from scholarmind_spark.cli import main

    assert main(["--output", "/tmp/x"]) == 2


def test_cli_excel_workbook_and_wos_excel_source(spark, tmp_path, capsys):
    """--wos-excel in, --excel out: the reference's primary I/O pair, end
    to end over a real .xlsx on both sides (no Excel engine involved)."""
    from scholarmind_spark.cli import main
    from scholarmind_spark.xlsxlite import read_xlsx, write_xlsx

    src = str(tmp_path / "savedrecs.xlsx")
    write_xlsx(src, {"savedrecs": [
        ["Article Title", "Authors", "Source Title", "Publication Year",
         "DOI", "Abstract", "Author Keywords"],
        ["Excel-borne paper", "Ada, B", "J CLI", 2023, "10.9/xlsx",
         "Round trip.", "io; cli"],
    ]})
    out = str(tmp_path / "corpus")
    wb = str(tmp_path / "report.xlsx")
    rc = main(["--wos-excel", src, "--output", out, "--excel", wb])
    assert rc == 0
    assert f"wrote 1 records to {out}" in capsys.readouterr().out
    sheets = read_xlsx(wb)
    assert list(sheets) == ["Results", "WOS", "PubMed", "ScienceDirect"]
    results = sheets["Results"]
    title_i = results[0].index("title")
    assert [r[title_i] for r in results[1:]] == ["Excel-borne paper"]
    assert len(sheets["WOS"]) == 2 and len(sheets["PubMed"]) == 1


def test_sql_surface(spark):
    from scholarmind_spark.sql import register_tables, sql

    register_tables(spark, "/root/testdata/sf0.001")
    row = sql(
        spark,
        "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
    ).collect()[0]
    assert row["n"] > 0
    # events view ts is a real timestamp whichever way the runtime decodes
    # parquet TIMESTAMP(NANOS): bigint-nanos runtimes get the explicit
    # ns→timestamp normalization, current Spark reads timestamp_ntz natively
    assert dict(spark.table("events").dtypes)["ts"] in ("timestamp", "timestamp_ntz")
