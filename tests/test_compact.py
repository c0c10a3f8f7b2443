"""Small-file compaction: fewer files, identical data, atomic swap."""

from __future__ import annotations

import os

from scholarmind_spark.sinks.compact import compact_parquet


def test_compaction_reduces_files_keeps_rows(spark, tmp_path):
    path = str(tmp_path / "many")
    df = spark.range(0, 2000).withColumnRenamed("id", "v")
    df.repartition(20).write.parquet(path)
    before_files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(before_files) == 20
    before = sorted(r.v for r in spark.read.parquet(path).collect())

    n = compact_parquet(spark, path, target_bytes=10**12)  # everything in 1
    assert n == 1
    after = sorted(r.v for r in spark.read.parquet(path).collect())
    assert after == before


def test_compaction_respects_target_size(spark, tmp_path):
    path = str(tmp_path / "sized")
    spark.range(0, 20000).repartition(16).write.parquet(path)
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    n = compact_parquet(spark, path, target_bytes=total // 3)
    assert 3 <= n <= 5  # ceil(size/target) with post-write size drift


def test_compaction_refuses_partitioned_layout(spark, tmp_path):
    import pytest

    from scholarmind_spark.sinks.partitioned import write_partitioned

    path = str(tmp_path / "hive")
    df = spark.createDataFrame(
        [(i, str(i % 2)) for i in range(100)], "v long, k string"
    )
    write_partitioned(df, path, "k")
    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_parquet(spark, path)


def test_compaction_restores_a_dataset_a_crash_parked_aside(spark, tmp_path):
    """A kill between the swap's two renames leaves the dataset at
    ``<path>.old`` with ``path`` absent; the next compaction restores it
    and compacts it, losing no rows."""
    path = str(tmp_path / "parked")
    spark.range(0, 500).repartition(5).write.parquet(path + ".old")
    assert not os.path.exists(path)

    n = compact_parquet(spark, path, target_bytes=10**12)
    assert n == 1
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(
        range(500)
    )
    assert not os.path.exists(path + ".old")
