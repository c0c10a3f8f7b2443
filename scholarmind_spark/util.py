"""Shared plan-shaping helpers."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame

_PROC_TMP_BASE: str | None = None


def proc_tmp_dir(name: str) -> str:
    """A fixed-named reuse directory under a per-process private base.

    The base is one ``mkdtemp`` (mode 0700, unpredictable name) created
    lazily per process — so fixed names like ``sm_jsonl`` stay reusable
    across battery/bench reps (no per-rep leak) without the pre-create /
    symlink-plant exposure of predictable ``/tmp/sm_jsonl_<pid>`` paths,
    and a recycled pid can never pick up a stale dir from an unrelated
    earlier process."""
    global _PROC_TMP_BASE
    if _PROC_TMP_BASE is None or not os.path.isdir(_PROC_TMP_BASE):
        _PROC_TMP_BASE = tempfile.mkdtemp(prefix="sm_proc_")
        # unlike the old fixed /tmp/<name>_<pid> paths, a random base can
        # never be reclaimed by a LATER process overwriting it — remove it
        # on exit or every run leaks its corpus-sized sink copies
        import atexit
        import shutil

        atexit.register(shutil.rmtree, _PROC_TMP_BASE, ignore_errors=True)
    d = os.path.join(_PROC_TMP_BASE, name)
    os.makedirs(d, exist_ok=True)
    return d


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition when a LOCAL scan is under-partitioned.

    A small local parquet file arrives as ONE input split, which serializes
    CPU-heavy per-row work (shingling, hashing, Python UDF stages) onto a
    single core.  Off local mode this returns the input untouched — a
    100 TB scan already has thousands of splits and must not be re-shuffled.

    Local mode repartitions unconditionally: probing the current partition
    count costs a ``df.rdd`` plan conversion PER CALL (driver-side latency
    on every operator), while the repartition itself is a cheap local
    exchange that the common case (single-split scan) needs anyway."""
    sc = df.sparkSession.sparkContext
    if not sc.master.startswith("local"):
        return df
    return df.repartition(sc.defaultParallelism)


def attach_caches(out: DataFrame, caches: list[DataFrame]) -> DataFrame:
    """Tag ``out`` with the intermediate ``persist()``-ed relations its plan
    reads, so the consumer can release them after its final action:

        pairs = minhash_lsh_pairs(df)
        rows = pairs.collect()
        release_caches(pairs)

    The operators return LAZY plans (actions belong to the caller), so they
    cannot unpersist internally without either forfeiting the cache before
    the caller's action or paying a second eager materialization.  Callers
    that skip release fall back to Spark's LRU block eviction + the
    ContextCleaner unpersisting caches once the DataFrames are
    garbage-collected."""
    out._sm_caches = list(caches)  # type: ignore[attr-defined]
    return out


def build_cache(df: DataFrame) -> DataFrame:
    """Build every block of the ``persist()``-ed ``df`` in one Spark job.

    Adaptive execution plans one ``TableCacheQueryStage`` per read of a
    cached relation that is not built yet, and each stage submits its own
    job over the same blocks; ``count()`` takes three (the cache stage,
    the partial count and the final count).  Counting the cache's own RDD
    builds the blocks once, so every later plan finds them built and
    submits no cache job."""
    cached = (
        df.sparkSession._jsparkSession.sharedState()  # type: ignore[attr-defined]
        .cacheManager()
        .lookupCachedData(df._jdf)  # type: ignore[attr-defined]
    )
    cached.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().count()
    return df


def unpersist_any(df: DataFrame) -> None:
    """Free the materialized blocks behind ``df`` whether it was
    ``persist()``-ed (CacheManager entry) or ``localCheckpoint()``-ed
    (checkpoint RDD blocks, which ``Dataset.unpersist`` does NOT release —
    they are only reachable through the plan's ``LogicalRDD`` leaf)."""
    try:
        plan = df._jdf.queryExecution().analyzed()  # type: ignore[attr-defined]
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass
    df.unpersist()


def release_caches(df: DataFrame) -> None:
    """Unpersist every intermediate cache attached to ``df`` (no-op for
    DataFrames without attached caches)."""
    for c in getattr(df, "_sm_caches", ()):
        unpersist_any(c)
    df._sm_caches = []  # type: ignore[attr-defined]


def carry_caches(src: DataFrame, wrapped: DataFrame) -> DataFrame:
    """Re-attach ``src``'s cache tags (and the frame a checkpoint was
    taken from, see :func:`lazy_checkpoint`) to a DataFrame that WRAPS it.

    Any plain DataFrame method (``orderBy``, ``select``, ``crossJoin``,
    ...) returns a NEW object without the ``_sm_caches`` tag, so a
    consumer releasing the wrapper silently strands the persists the
    operator attached — the exact leak class the r15 cache audit fixed
    at three call sites by hand.  This helper is that re-attach idiom in
    one place:

        out = some_operator(df)           # tagged
        return carry_caches(out, out.orderBy("id"))
    """
    out = attach_caches(wrapped, list(getattr(src, "_sm_caches", ())))
    if hasattr(src, "_sm_checkpoint_of"):
        out._sm_checkpoint_of = src._sm_checkpoint_of  # type: ignore[attr-defined]
    return out


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)``: the plan runs once and keeps
    its blocks; every later action reads the blocks.  Under adaptive
    execution the shuffle stages of ``df`` already run when the checkpoint
    is taken (the adaptive plan is finalized then); the stage after the
    last shuffle runs at the first action.

    A local checkpoint, not ``persist()``: the CacheManager matches a later,
    plan-identical frame of the same session to an old cache, so a second
    run of the same pipeline would silently read the first run's rows (and
    skip its side effects, such as LLM calls).  A checkpoint is reachable
    only through the frame returned here.

    The result is tagged twice: with itself as its cache
    (:func:`release_caches` frees the blocks), and with the frame it was
    taken from (``_sm_checkpoint_of``), which
    :func:`scholarmind_spark.plans.plan_digest` follows past the
    checkpoint's ``LogicalRDD`` leaf."""
    out = df.localCheckpoint(eager=False)
    out._sm_checkpoint_of = df  # type: ignore[attr-defined]
    return attach_caches(out, [out])
