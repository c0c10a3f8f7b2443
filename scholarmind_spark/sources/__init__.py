from scholarmind_spark.sources.pubmed import scan_pubmed
from scholarmind_spark.sources.sciencedirect import scan_sciencedirect
from scholarmind_spark.sources.wos import scan_wos, scan_wos_csv, scan_wos_excel

SOURCE_READERS = {
    "pubmed": scan_pubmed,
    "wos": scan_wos,
    "wos_csv": scan_wos_csv,
    "wos_excel": scan_wos_excel,
    "sciencedirect": scan_sciencedirect,
}


def read_source(spark, source_type: str, path: str):
    """engine.read_source(type, path) -> standardized records DataFrame
    (reference lifecycle §3.3: parse_file → standardize_columns →
    preprocess, as one lazy scan)."""
    try:
        reader = SOURCE_READERS[source_type]
    except KeyError:
        raise ValueError(f"unknown source type: {source_type!r}") from None
    return reader(spark, path)


__all__ = [
    "SOURCE_READERS",
    "read_source",
    "scan_pubmed",
    "scan_sciencedirect",
    "scan_wos",
    "scan_wos_csv",
    "scan_wos_excel",
]
