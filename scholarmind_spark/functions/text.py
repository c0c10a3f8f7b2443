"""Text / date scalar expressions (reference D2-D5, D8-D11).

All built-in Column expressions — no Python UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

YEAR_RE = r"(\d{4})"


def extract_year(source_type: Column, publication_date: Column) -> Column:
    """publication_year derivation (reference D2, parsers_manager.py:122-168).

    WOS carries a clean ``PY`` year (normalized into publication_date by the
    scan), PubMed's ``DP`` is free text (``"2023 Mar 15"``) → first 4-digit
    run; ScienceDirect stores the bare year.  A single regexp_extract covers
    all three: a clean year extracts as itself.
    """
    y = F.regexp_extract(F.coalesce(publication_date, F.lit("")), YEAR_RE, 1)
    return F.nullif(F.trim(y), F.lit(""))


def join_authors(authors: Column) -> Column:
    """Author array → ``', '``-joined display string (reference D3,
    parsers_manager.py:170-196)."""
    return F.array_join(authors, ", ")


def split_sd_authors(authors: Column) -> Column:
    """ScienceDirect ``"Last, F., Last, F."`` → array (reference D5,
    sciencedirect_parser.py:117-131)."""
    return F.regexp_extract_all(
        F.concat(authors, F.lit(",")), F.lit(r"([^,]+,[^,]+),\s*"), F.lit(1)
    )


def coalesce_journal(journal: Column, journal_full: Column) -> Column:
    """PubMed TA coalesced with JT (reference D8, pubmed_parser.py:147-151)."""
    return F.coalesce(journal, journal_full)


def normalize_keywords_sep(kw: Column) -> Column:
    """``;`` → ``', '`` (reference D9, sciencedirect_parser.py:246-251)."""
    return F.regexp_replace(kw, ";", ", ")


def journal_norm(journal: Column) -> Column:
    """Join key for the metrics lookup (reference D11, main.py:374-376)."""
    return F.lower(F.trim(journal))


def with_publication_year(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "publication_year",
        F.coalesce(
            F.nullif(F.trim(F.col("publication_year")), F.lit("")),
            extract_year(F.col("source_type"), F.col("publication_date")),
        ),
    )
