"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``   — flagship literature pipeline at sf0.001.
- ``queries()``      — every declared operator from SURVEY.md §2 plus the
                       training-data-pipeline extensions.
- ``oracle_sql()``   — DuckDB twins, same column names/types/rounding.

Implementation lives in ``scholarmind_spark`` (see README.md); this module
only adapts it to the driver's calling convention.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's end-to-end pipeline shape over the
    sf0.001 corpus — synthesize literature-shaped records from documents,
    priority-dedup by normalized DOI (A1) plus the null-DOI fuzzy-title
    second pass (lit_fuzzy_dedup — the capability the reference lacks),
    enrich via broadcast lookup (J1), attach link columns (D6/D7/A2),
    run the U1/J2 LLM abstract-understanding map (deterministic mock
    client, one call per key) and text-quality metrics, and return
    per-source corpus statistics."""
    from scholarmind_spark.operators.textstats import quality_score, token_count
    from scholarmind_spark.queries import (
        _lit_records,
        lit_enrich_join,
        lit_fuzzy_dedup,
        lit_llm_extract,
    )
    from scholarmind_spark.util import carry_caches

    sf_dir = "/root/testdata/sf0.001"
    kept = lit_fuzzy_dedup(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = docs.select(
        F.col("doc_id").alias("record_id"),
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality_score"),
    )
    enriched = lit_enrich_join(spark, sf_dir).select("record_id", "impact_factor")
    # U1/J2 end-to-end each round: the mapInArrow LLM map with the
    # deterministic mock; the summary field is non-empty
    # by construction, so counting its prefix checks the whole path
    llm = lit_llm_extract(spark, sf_dir)
    out = (
        kept.join(stats, "record_id")
        .join(enriched, "record_id")
        .join(llm.select("record_id", "summary"), "record_id")
        .groupBy("source_type")
        .agg(
            F.count("*").alias("n_records"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
            F.sum(F.when(F.col("doi_norm") != "", 1).otherwise(0)).alias("n_with_doi"),
            F.sum(
                F.when(F.col("summary").startswith("summary-"), 1).otherwise(0)
            ).alias("n_llm_ok"),
        )
        .orderBy("source_type")
    )
    # release_caches(out) frees the LLM map's checkpoint
    return carry_caches(llm, out)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from scholarmind_spark.queries import SPARK_QUERIES

    return dict(SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    from scholarmind_spark.queries import ORACLE_SQL

    return dict(ORACLE_SQL)
