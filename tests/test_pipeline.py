"""End-to-end pipeline: fixtures in all three formats → parse → union →
dedup → enrich → links → year → LLM → sinks (reference lifecycle §3.1)."""

import contextlib
import os

import pytest
from pyspark.sql import functions as F

from scholarmind_spark.llm.client import MockLLMClient
from scholarmind_spark.llm.templates import PromptTemplate
from scholarmind_spark.pipeline import PipelineConfig, build_corpus, process, run_pipeline
from scholarmind_spark.schemas import METRICS_SCHEMA
from scholarmind_spark.sinks import flatten_for_presentation, write_parquet, write_sheets_csv
from scholarmind_spark.util import release_caches

FIX = os.path.join(os.path.dirname(__file__), "fixtures")

TEMPLATE = PromptTemplate(
    type="custom",
    name="t",
    system="sys",
    user_template="Abstract: {abstract}",
    fields=["summary", "method"],
    default_values={"summary": "-", "method": "-"},
)


@pytest.fixture(scope="module")
def cfg(spark):
    metrics = spark.createDataFrame(
        [("nature", "69.5", "Q1", "1")], schema=METRICS_SCHEMA
    )
    return PipelineConfig(
        sources={
            "pubmed": f"{FIX}/pubmed.txt",
            "wos": f"{FIX}/wos.txt",
            "sciencedirect": f"{FIX}/sciencedirect.txt",
        },
        metrics_df=metrics,
        llm_template=TEMPLATE,
        llm_client=MockLLMClient(fields=TEMPLATE.fields, mode="json"),
    )


@pytest.fixture(scope="module")
def result(spark, cfg):
    df = run_pipeline(spark, cfg)
    df.cache().count()
    yield df
    df.unpersist()
    release_caches(df)  # the LLM map's checkpoint


def test_pipeline_composes_all_stages(result):
    cols = set(result.columns)
    # dedup artifacts
    assert "doi_norm" not in cols  # helper dropped like reference main.py:156
    # links (D6/D7/A2), year (D2), metrics (J1), LLM fields (U1)
    for c in ["title_link", "doi_link", "publication_year", "impact_factor",
              "summary", "method"]:
        assert c in cols, c


def test_pipeline_dedups_across_sources(spark, cfg, result):
    raw = build_corpus(spark, cfg.sources)
    # fixtures share DOIs across sources: union > deduped survivor count
    assert raw.count() > result.count()
    # every surviving duplicate-DOI row is the highest-priority source
    from scholarmind_spark.functions.doi import doi_norm

    shared = (
        raw.select(doi_norm(F.col("doi")).alias("dn"), "source_type")
        .filter(F.col("dn") != "")
        .groupBy("dn")
        .agg(F.count("*").alias("n"), F.max("source_type").alias("_"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert shared > 0  # the scenario actually exercises A1


def test_llm_fields_keyed_not_positional(result):
    # non-null abstracts got mock output derived from THEIR text, keyed join
    rows = result.filter(F.col("abstract").isNotNull()).select("abstract", "summary").collect()
    assert rows and all(r["summary"] not in (None, "") for r in rows)


def test_parquet_sink_partitions(tmp_path, result):
    out = str(tmp_path / "corpus")
    write_parquet(result, out)
    parts = {d for d in os.listdir(out) if d.startswith("source_type=")}
    assert len(parts) >= 2  # one dir per source present


def test_csv_sheet_sink_layout(tmp_path, result):
    paths = write_sheets_csv(result, str(tmp_path / "sheets"))
    assert set(paths) == {"Results", "WOS", "PubMed", "ScienceDirect"}
    import csv

    with open(paths["Results"]) as f:
        header = next(csv.reader(f))
    assert "title_link" in header and "doi_link" in header


def test_one_llm_call_per_record_across_sinks(spark, cfg, tmp_path):
    """One run_pipeline result feeds both sinks from one set of answers:
    the client sees exactly one call per distinct non-null abstract."""
    from dataclasses import replace

    from scholarmind_spark.sinks import write_excel
    from scholarmind_spark.xlsxlite import read_xlsx

    calls = spark.sparkContext.accumulator(0)
    mock = cfg.llm_client

    def client(messages):
        calls.add(1)
        return mock(messages)

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    df = run_pipeline(spark, replace(cfg, llm_client=client, llm_max_workers=1))
    write_parquet(df, str(tmp_path / "corpus"))
    write_excel(df, str(tmp_path / "corpus.xlsx"))
    back = spark.read.parquet(str(tmp_path / "corpus"))
    abstracts = back.filter(F.col("abstract").isNotNull()).select("abstract")
    assert calls.value == abstracts.distinct().count() == abstracts.count() > 0
    # the workbook holds the parquet's rows
    results = read_xlsx(str(tmp_path / "corpus.xlsx"))["Results"]
    assert len(results) - 1 == back.count()
    # releasing the result frees the checkpoint the sinks read
    release_caches(df)
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_write_excel_executes_plan_once(spark, cfg, tmp_path):
    """write_excel runs its input plan once for all four sheets: a
    pass-through filter upstream of the sink counts every row it sees."""
    from pyspark.sql.types import BooleanType

    from scholarmind_spark.sinks import write_excel

    seen = spark.sparkContext.accumulator(0)

    def count_row(_):
        seen.add(1)
        return True

    corpus = build_corpus(spark, cfg.sources)
    n = corpus.count()
    counted = corpus.filter(F.udf(count_row, BooleanType())(F.col("record_id")))
    write_excel(counted, str(tmp_path / "wb.xlsx"))
    assert seen.value == n


def test_flatten_policy(result):
    flat = flatten_for_presentation(result)
    types = dict(flat.dtypes)
    assert not any(t.startswith("array") for t in types.values())
    # nulls render '' on string columns (reference D10)
    row = flat.limit(1).collect()[0]
    assert all(v is not None for k, v in row.asDict().items() if isinstance(v, str) or v == "")


def test_progress_monotone_two_stage(spark):
    """Engine-side progress: a run with a driver-side metrics fetch
    (journal_metrics band) followed by a tracked sink action (sink band)
    emits monotone non-decreasing percents that visit both bands."""
    from scholarmind_spark.progress import watch_action

    events = []
    cfg2 = PipelineConfig(
        sources={"pubmed": f"{FIX}/pubmed.txt"},
        metrics_fetch_one=lambda j: {"impact_factor": "1.0"},
        llm_template=None,
        llm_client=None,
    )
    # shrink the fetch throttle so the test doesn't sleep 0.5s per journal
    import scholarmind_spark.operators.enrich as enrich_mod

    orig = enrich_mod.fetch_metrics_df

    def fast_fetch(spark_, journals, fetch_one, min_interval_s=0.5, **kw):
        return orig(spark_, journals, fetch_one, min_interval_s=0.0, **kw)

    enrich_mod.fetch_metrics_df = fast_fetch
    try:
        df = run_pipeline(spark, cfg2, progress_callback=events.append)
    finally:
        enrich_mod.fetch_metrics_df = orig

    from scholarmind_spark.progress import ProgressReporter

    reporter = ProgressReporter(events.append)
    reporter._high_water = events[-1].percent if events else 0.0
    watch_action(spark, reporter, "sink", lambda: df.count(), poll_s=0.05)

    assert len(events) >= 3
    pcts = [e.percent for e in events]
    assert pcts == sorted(pcts), pcts  # monotone non-decreasing
    stages = {e.stage for e in events}
    assert "journal_metrics" in stages
    assert "sink" in stages
    assert pcts[-1] == 100.0


def test_corpus_record_ids_unique(spark, cfg):
    # record_id is a probabilistic 64-bit content-hash key (pipeline.py
    # build_corpus docstring): a collision silently MERGES two records in
    # every downstream keyed join (LLM attach dropDuplicates, dedup
    # tiebreak).  This assertion turns a collision — or an upstream
    # id-generation regression — into a loud failure instead.
    corpus = build_corpus(spark, cfg.sources)
    stats = corpus.agg(
        F.count("*").alias("n"),
        F.countDistinct("record_id").alias("n_ids"),
    ).collect()[0]
    assert stats.n == stats.n_ids, (
        f"record_id collision: {stats.n} records, {stats.n_ids} distinct ids"
    )


def test_assert_unique_record_ids_pass_and_fail(spark, cfg):
    from scholarmind_spark.pipeline import assert_unique_record_ids

    corpus = build_corpus(spark, cfg.sources)
    assert_unique_record_ids(corpus)  # real corpus: no collisions

    dup = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "record_id long, title string"
    )
    with pytest.raises(AssertionError, match="duplicate record_id"):
        assert_unique_record_ids(dup)


@contextlib.contextmanager
def _job_group(spark, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _group_statuses(spark, group):
    """Statuses of the group's jobs, once the listener bus has caught up."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    return [st.getJobInfo(j).status for j in st.getJobIdsForGroup(group)]


def _count_jobs(spark, group, build):
    """Jobs of ``build()`` plus one count over its result, and the
    statuses of the group's jobs when ``build()`` returned."""
    with _job_group(spark, group):
        df = build()
        at_return = _group_statuses(spark, group)
        df.count()
        release_caches(df)
    return len(_group_statuses(spark, group)), at_return


@pytest.mark.parametrize("llm", [True, False])
def test_worker_warmup_is_one_finished_job_in_the_callers_group(spark, cfg, monkeypatch, llm):
    """A pipeline with a Python stage runs one extra job, the worker
    warm-up, in the caller's job group, and it is over when
    ``run_pipeline`` returns: a warm-up slower than the plan build is
    waited for.  (Without the LLM map the build runs no job, so nothing
    else waits for the warm-up's task slots.)"""
    import time
    from dataclasses import replace

    import scholarmind_spark.pipeline as pipeline_mod

    if not llm:
        cfg = replace(cfg, llm_template=None, llm_client=None)

    def slow_pass(batches):
        time.sleep(2)
        yield from batches

    monkeypatch.setattr(pipeline_mod, "_pass_batches", slow_pass)
    ref, ref_at_return = _count_jobs(
        spark, f"ref-{llm}", lambda: process(build_corpus(spark, cfg.sources), cfg)
    )
    n, at_return = _count_jobs(spark, f"warm-{llm}", lambda: run_pipeline(spark, cfg))
    assert n == ref + 1
    assert len(at_return) == len(ref_at_return) + 1
    assert set(at_return) == {"SUCCEEDED"}


def test_failed_worker_warmup_does_not_fail_the_pipeline(spark, cfg, monkeypatch):
    import scholarmind_spark.pipeline as pipeline_mod

    def rows(df):
        out = df.orderBy("record_id").collect()
        release_caches(df)
        return out

    expected = rows(run_pipeline(spark, cfg))

    def boom(batches):
        raise RuntimeError("warm-up failed")

    monkeypatch.setattr(pipeline_mod, "_pass_batches", boom)
    with _job_group(spark, "boom"):
        got = rows(run_pipeline(spark, cfg))
    assert got == expected
    assert "FAILED" in _group_statuses(spark, "boom")  # the warm-up ran and failed


def test_no_worker_warmup_without_a_python_stage(spark):
    """A CSV source with no LLM map runs no Python stage: no warm-up job."""
    cfg2 = PipelineConfig(sources={"wos_csv": f"{FIX}/wos.csv"})
    ref, _ = _count_jobs(spark, "csv_ref", lambda: process(build_corpus(spark, cfg2.sources), cfg2))
    n, _ = _count_jobs(spark, "csv_run", lambda: run_pipeline(spark, cfg2))
    assert n == ref


def test_corpus_rows_unchanged_by_the_structtype_scan_schema(spark, cfg, monkeypatch):
    """``build_corpus`` returns the same rows with the StructType scan
    schema as with the DDL text it replaced."""
    import scholarmind_spark.sources.base as base
    from scholarmind_spark.schemas import RECORD_SCHEMA

    sources = {**cfg.sources, "wos_csv": f"{FIX}/wos.csv"}
    got = build_corpus(spark, sources).orderBy("record_id").collect()
    parse_ddl = RECORD_SCHEMA.simpleString().replace("record_id:bigint,", "")
    monkeypatch.setattr(base, "_SCAN_SCHEMA", parse_ddl[:-1] + ",_file:string,_ordinal:bigint>")
    assert build_corpus(spark, sources).orderBy("record_id").collect() == got
    assert got


def test_pipeline_build_parses_no_sql_type_text(spark, cfg, monkeypatch):
    """Building the pipeline (and its presentation projection) on the
    fixtures passes no type name to ``Column.cast`` and no DDL string as a
    UDF schema: on a cold JVM the first parse of either costs 0.15-0.35 s
    of plan construction."""
    from dataclasses import replace

    import pyspark.sql.udf as udf_mod
    from pyspark.sql.classic.column import Column

    seen = []
    real_cast, real_parse = Column.cast, udf_mod._parse_datatype_string

    def cast(self, dataType):
        if isinstance(dataType, str):
            seen.append(("cast", dataType))
        return real_cast(self, dataType)

    def parse(s):
        seen.append(("udf schema", s))
        return real_parse(s)

    monkeypatch.setattr(Column, "cast", cast)
    monkeypatch.setattr(udf_mod, "_parse_datatype_string", parse)
    df = run_pipeline(spark, replace(cfg, sources={**cfg.sources, "wos_csv": f"{FIX}/wos.csv"}))
    flatten_for_presentation(df)
    release_caches(df)
    assert seen == []
