"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the configuration below is written for a
real multi-executor cluster (AQE, skew-join handling, Arrow batching) and
degrades gracefully on local mode.

Engine warm-up.  A fresh JVM pays for its first SQL query once: it loads
some 12k classes and JIT-compiles the analyzer, optimizer, AQE stages,
shuffle, aggregate and join code, and Janino compiles the first generated
classes.  On a 4-vCPU host that makes the first step of a cold pass 4-5x
slower than the same step warm.  So once per SparkContext, and only on a
``local`` master, :func:`get_spark` starts a daemon thread and returns
without waiting for it.  The thread runs one small job
(:func:`_warmup_frame`: ``range`` over ``defaultParallelism`` partitions
→ group-by aggregate → join back → aggregate → collect) while the caller
imports its modules and builds its first plan, and swallows any failure.
The job is built from Column objects only, so it warms neither the SQL
parser (a DDL schema or a type-name cast) nor a Python worker: a session
that never runs a Python stage starts no ``pyspark.daemon``.

- Local master only: there the driver's JVM is also the executor, so the
  one job warms the code every later task runs.  On a cluster it would
  warm the driver alone, and it would hold executors the caller may be
  waiting for.
- Its own job group (:data:`WARMUP_GROUP`): the job belongs to no caller
  job group, so jobs counted per group (``progress.watch_action``,
  benchmark steps) do not include it.
"""

from __future__ import annotations

import logging
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARMUP_GROUP = "scholarmind-engine-warmup"

_log = logging.getLogger(__name__)
_warmup_lock = threading.Lock()

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

    On a local master, the first call for a SparkContext also starts the
    engine warm-up in the background (see the module docstring).

    A call that launches a new gateway JVM goes through the class-data
    cache (:mod:`scholarmind_spark.classcache`): on an eligible host with
    an archive that ``python -m scholarmind_spark.classcache build``
    published under ``$XDG_CACHE_HOME/scholarmind_spark/``, it appends
    ``-XX:SharedArchiveFile`` to the caller's
    ``spark.driver.extraJavaOptions``, points ``SPARK_CONF_DIR`` at an
    empty directory for the launch (restored afterwards) and prints one
    stderr line naming its mode, also set as the session conf
    ``spark.scholarmind.classcache``.  Without a published archive, on an
    ineligible host or with a running gateway the launch is exactly
    ``builder.getOrCreate()``; no call records an archive.
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
    # imported here so that ``python -m scholarmind_spark.classcache`` runs
    # a module the package import has not loaded already
    from scholarmind_spark import classcache

    spark = classcache.get_or_create(builder, extra_conf or {})
    _start_engine_warmup(spark)
    return spark


def _warmup_frame(spark: SparkSession) -> DataFrame:
    """The warm-up query: a shuffle, a hash aggregate, a join and a final
    aggregate over a few thousand rows, one partition per task slot."""
    n = spark.sparkContext.defaultParallelism
    ids = spark.range(0, 1 << 12, 1, n).withColumn("k", F.col("id") % n)
    groups = ids.groupBy("k").agg(F.count(F.lit(1)).alias("c"), F.max("id").alias("m"))
    return ids.join(groups, "k").agg(F.sum("c"), F.max("m"))


def _warm_engine(spark: SparkSession) -> None:
    try:
        spark.sparkContext.setJobGroup(WARMUP_GROUP, "engine warm-up")
        _warmup_frame(spark).collect()
    except Exception:  # a cold engine is slower, never wrong
        _log.debug("engine warm-up failed", exc_info=True)


def _start_engine_warmup(spark: SparkSession) -> threading.Thread | None:
    """Start the warm-up thread once per SparkContext on a local master;
    return it, or None when the master is not local or the context was
    warmed already.  The thread is kept on the context as
    ``_engine_warmup``."""
    sc = spark.sparkContext
    if not sc.master.startswith("local"):
        return None
    with _warmup_lock:
        if getattr(sc, "_engine_warmup", None) is not None:
            return None
        thread = threading.Thread(
            target=_warm_engine, args=(spark,), name="spark-engine-warmup", daemon=True
        )
        sc._engine_warmup = thread
    thread.start()
    return thread
