"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the configuration below is written for a
real multi-executor cluster (AQE, skew-join handling, Arrow batching) and
degrades gracefully on local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "scholarmind-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    - AQE on: runtime partition coalescing + skew-join splitting, which at
      100 TB replaces hand-tuned shuffle partition counts per stage.
    - Arrow on: every pandas-UDF operator (LLM map, multimodal decode)
      moves batches via Arrow, not pickled rows.
    - Session timezone pinned to UTC so timestamp semantics match the
      DuckDB oracle (duckdb timestamps are UTC-naive).
    """
    # Python workers unpickle mapInPandas closures by module reference; make
    # sure they can import this package even when the driver only put it on
    # sys.path (local-mode workers inherit PYTHONPATH from the driver env).
    # On a real cluster, ship the package with --py-files / a wheel instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{py_path}" if py_path else pkg_root
        )

    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{DEFAULT_SHUFFLE_PARTITIONS}]")
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4's ICU-backed case mappings cost ~70 s of one-time init on
        # the FIRST lower()/upper() per JVM (observed locally).  JVM case
        # mapping is Unicode-correct for this engine's data and identical
        # in the ASCII range the oracle compares.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Spark keeps 100 generated classes by default; one pass of a
        # mixed workload (connected components, a stream drain, a sketch
        # fold, a join query) generates ~140, so every repeat of the same
        # plans recompiled all of them with Janino.  Static conf: it must
        # be set before the session starts.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The driver's events.parquet carries TIMESTAMP(NANOS) (pandas ns
        # precision), which Spark's vectorized reader rejects outright.
        # Read nanos as LongType and convert explicitly (see load_events).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # managed-table warehouse (bucketed sink); static conf, so default
        # it somewhere writable rather than the process cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/scholarmind_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
