"""scholarmind_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference literature-ETL system
(yudaleng/ScholarMind), rebuilt Spark-first.

Layout:
- ``sources``    — record-delimiter text scans (PubMed / WOS / ScienceDirect),
                   CSV/Excel readers.
- ``functions``  — scalar column expressions (DOI normalization, link
                   builders, year extraction, text stats).
- ``operators``  — DataFrame -> DataFrame transforms (priority dedup,
                   enrichment join, union, similarity search, text analytics,
                   multimodal plumbing).
- ``llm``        — the LLM abstract-understanding map (mapInArrow) with a
                   pluggable, mockable client and YAML-style templates.
- ``sinks``      — parquet engine sink + driver-side Excel presentation sink.
- ``streaming``  — Structured Streaming extensions over the events stream.
"""

from scholarmind_spark.config import ConfigError, load_config
from scholarmind_spark.session import get_spark

__all__ = ["ConfigError", "get_spark", "load_config"]
__version__ = "0.2.0"
