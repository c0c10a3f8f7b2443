"""Small-file compaction for parquet datasets.

Streaming sinks and per-increment merges accumulate small files; at
100 TB the file listing and per-file open cost dominate reads long
before the data does (the classic small-files problem).  Compaction
rewrites a dataset into ~``target_bytes``-sized files: size from the
current on-disk footprint (driver-side listing, no data pass), then one
``coalesce`` write — coalesce, not repartition, so existing partitions
are concatenated WITHOUT a shuffle.  The rewrite lands in a staging
directory swapped in by the rename swap of :mod:`streaming.state`, so
readers never observe a half-written dataset, and a dataset a crash left
parked aside is restored by the next call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from scholarmind_spark.streaming.state import recover_swap, rename_swap


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compact_parquet(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> int:
    """Rewrite ``path`` into ``ceil(size/target_bytes)`` files; returns the
    resulting file count.

    Refuses hive-partitioned datasets: a flat rewrite would silently
    DROP the directory layout (and with it partition pruning) — compact
    those per partition directory instead."""
    recover_swap(path)
    if any(
        "=" in d
        for d in os.listdir(path)
        if os.path.isdir(os.path.join(path, d))
    ):
        raise ValueError(
            f"{path} is hive-partitioned; compact each partition directory "
            "separately to preserve the layout (a flat rewrite drops pruning)"
        )
    n_files = max(1, -(-_dir_bytes(path) // target_bytes))
    df = spark.read.parquet(path)
    if os.path.isdir(os.path.join(path, "_spark_metadata")):
        raise ValueError(
            "refusing to compact a streaming-sink dataset: rewriting the "
            "directory would destroy the _spark_metadata commit log and "
            "drop files committed by concurrent microbatches — stop the "
            "stream and write through a batch copy instead"
        )
    # a fixed staging suffix: a retry overwrites a crashed run's staging dir
    rename_swap(path, 0, df.coalesce(n_files).write.mode("overwrite").parquet)
    return sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )
