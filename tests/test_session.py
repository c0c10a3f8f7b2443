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


def _warmup_jobs(sc, group):
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    return {j: st.getJobInfo(j).status for j in st.getJobIdsForGroup(group)}


def _rewarm(spark, monkeypatch, frame):
    """Drop the context's warm-up record, swap in ``frame`` as the
    warm-up query and call ``get_spark`` as the session fixture does;
    return the new warm-up thread."""
    from scholarmind_spark import session

    sc = spark.sparkContext
    monkeypatch.setattr(session, "_warmup_frame", frame)
    monkeypatch.setattr(sc, "_engine_warmup", None)
    assert session.get_spark(
        app_name="scholarmind-tests", master="local[4]", shuffle_partitions=4
    ) is spark
    thread = sc._engine_warmup
    assert thread is not None
    return thread


def test_engine_warmup_runs_in_the_background_in_its_own_group(spark, monkeypatch):
    """``get_spark`` starts the warm-up and returns without waiting for
    it; the job runs in the warm-up group, never in the caller's, and
    succeeds."""
    import threading

    from scholarmind_spark import session

    sc = spark.sparkContext
    release = threading.Event()
    real = session._warmup_frame

    def gated(s):
        assert release.wait(60)
        return real(s)

    before = _warmup_jobs(sc, session.WARMUP_GROUP)
    sc.setJobGroup("caller", "caller")
    try:
        thread = _rewarm(spark, monkeypatch, gated)
        assert thread.is_alive()  # get_spark returned; the job is not submitted yet
        release.set()
        thread.join(120)
        assert not thread.is_alive()
        assert _warmup_jobs(sc, "caller") == {}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    new = {j: s for j, s in _warmup_jobs(sc, session.WARMUP_GROUP).items() if j not in before}
    assert new and set(new.values()) == {"SUCCEEDED"}


def test_engine_warmup_starts_once_per_context(spark):
    from scholarmind_spark.session import _start_engine_warmup

    sc = spark.sparkContext
    first = sc._engine_warmup
    assert first is not None
    assert _start_engine_warmup(spark) is None
    assert sc._engine_warmup is first


def test_failing_engine_warmup_is_swallowed(spark, monkeypatch):
    """A warm-up job that fails in its tasks neither raises nor leaves the
    session unusable."""
    from scholarmind_spark import session

    sc = spark.sparkContext
    before = _warmup_jobs(sc, session.WARMUP_GROUP)
    thread = _rewarm(
        spark, monkeypatch, lambda s: s.range(1).select(F.raise_error(F.lit("warm-up failed")))
    )
    thread.join(120)
    assert not thread.is_alive()
    new = [s for j, s in _warmup_jobs(sc, session.WARMUP_GROUP).items() if j not in before]
    assert "FAILED" in new
    assert spark.range(5).count() == 5


def test_no_engine_warmup_on_a_cluster_master():
    from types import SimpleNamespace

    from scholarmind_spark.session import _start_engine_warmup

    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        sc = SimpleNamespace(master=master)
        assert _start_engine_warmup(SimpleNamespace(sparkContext=sc)) is None
        assert not hasattr(sc, "_engine_warmup")


def test_engine_warmup_plan_has_no_python_and_covers_shuffle_agg_join(spark):
    """The warm-up query starts no Python worker (so ``get_spark`` alone
    spawns no ``pyspark.daemon``), and it reaches the operators a first
    real query uses."""
    from scholarmind_spark.session import _warmup_frame

    df = _warmup_frame(spark)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan
    for node in ("Exchange", "HashAggregate", "Join", "Range"):
        assert node in plan, node
