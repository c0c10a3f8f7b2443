"""SQL surface: every engine table and the literature corpus as views.

The reference has no SQL layer (SURVEY §3); this is the Spark-native
upgrade — register the testdata star schema and/or a processed corpus as
temp views and run arbitrary ``spark.sql``.  Views are lazy: registering
costs nothing, and Catalyst sees straight through them to the parquet
scans (pushdown/pruning work identically to the DataFrame API).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def register_tables(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> list[str]:
    """Register the driver's parquet tables as temp views (events with the
    ns→timestamp normalization applied).  ``tables`` restricts the set —
    views are lazy, but the events view still costs a schema read."""
    from scholarmind_spark.queries import _events, _t

    names = tables or TESTDATA_TABLES
    for name in names:
        df = _events(spark, sf_dir) if name == "events" else _t(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
    return list(names)


def sql(spark: SparkSession, query: str) -> DataFrame:
    return spark.sql(query)
