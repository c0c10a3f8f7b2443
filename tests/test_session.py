"""Session factory settings that change how Spark runs, not what it returns."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def test_repeated_query_compiles_no_new_classes(spark):
    """Building and collecting the same query a second time in one session
    reuses every generated class.  This plan alone generates ~160 (one
    whole-stage class and one projection per union branch); at Spark's
    default 100-entry codegen cache the second run recompiled the evicted
    ones with Janino."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    base = spark.range(0, 1, 1, 1)

    def build() -> DataFrame:
        return reduce(
            DataFrame.unionByName,
            [base.select((F.col("id") * i + i).alias("v")) for i in range(80)],
        )

    first = build().collect()
    before = compiles.getCount()
    assert build().collect() == first
    assert compiles.getCount() - before == 0
