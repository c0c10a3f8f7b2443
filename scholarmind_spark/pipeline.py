"""End-to-end literature pipeline — the engine equivalent of the reference's
CLI lifecycle (``main.py:439-597``, SURVEY §3.1):

    parse+normalize+union → priority dedup (A1) → metrics join (J1)
    → link columns (D6/D7/A2) → publication-year (D2) → LLM map (U1) → sink

Everything up to the LLM map is ONE lazy logical plan; Catalyst sees it
whole and pushes filters/prunes columns into the scans.  The LLM map is the
single materialization point: its output is a lazy local checkpoint
(``llm.extract``), so the first sink runs the plan and calls the LLM once
per record, and every later sink reads the same answers.  The only other
driver-side materialization is the one the reference also has (the
distinct-journal collect for the online metrics fetch; SURVEY §3.1).
Release the checkpoint after the last sink with
``util.release_caches(result)``.

One more job runs, and it computes nothing: while the driver builds the
plan (single-threaded analysis of every source scan), :func:`run_pipeline`
warms the Python worker pool in a background thread with one tiny
``mapInPandas`` job over ``defaultParallelism`` partitions.  Each worker
unpickles :func:`_pass_batches` by reference, so it imports this module,
and with it the parsers, the LLM map, pandas and pyarrow, while the JVM
loads its Arrow runner; the first real Python stage then finds warm,
reused workers.  (The JVM's SQL engine itself is warmed by ``get_spark``,
see :mod:`scholarmind_spark.session`; that job runs no Python.)  The
worker warm-up sits here and not in ``get_spark`` because only a
pipeline with a Python stage (a text source or the LLM map) gains from
it: sessions that never start a Python worker must not pay for one.  It
runs only on a local master (a cluster's executors are not warmed by a
driver-side job sized to ``defaultParallelism``) and only with
``spark.python.worker.reuse`` on (otherwise no worker outlives the
job).  It is an ``InheritableThread``, so the job runs in the caller's
job group and is counted with the pipeline's own jobs; a failing
warm-up is swallowed, and the thread is joined before
:func:`run_pipeline` returns.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.util import InheritableThread

from scholarmind_spark.functions.links import with_link_columns
from scholarmind_spark.functions.text import with_publication_year
from scholarmind_spark.llm.extract import llm_extract
from scholarmind_spark.llm.templates import PromptTemplate
from scholarmind_spark.operators.dedup import priority_dedup
from scholarmind_spark.operators.enrich import enrich_with_metrics
from scholarmind_spark.operators.union import union_sources
from scholarmind_spark.sources import read_source


@dataclass
class PipelineConfig:
    """Driver-side configuration (the engine analogue of the reference's
    YAML config, ``src/config/config_manager.py``)."""

    sources: dict[str, str] = field(default_factory=dict)  # source_type → path
    metrics_df: DataFrame | None = None  # offline journal-metrics lookup
    # online alternative: per-journal fetcher (metrics_client.make_fetch_one);
    # used only when metrics_df is None — distinct journals are collected from
    # the deduped corpus and fetched once each (reference main.py:354-437)
    metrics_fetch_one: object | None = None
    llm_template: PromptTemplate | None = None
    llm_client: object | None = None  # ChatClient; None disables U1
    llm_max_workers: int = 4  # reference config.yaml:78


def build_corpus(spark: SparkSession, sources: dict[str, str]) -> DataFrame:
    """Parse + normalize each enabled source, union by name (U0).

    Mirrors ``ParsersManager.parse_all_sources`` (parsers_manager.py:25-72)
    as a single lazy plan.

    ``record_id`` is unique only WITHIN a source scan; the corpus re-keys
    it as ``xxhash64(source_type, local_id)`` so ids from different
    sources live in statistically disjoint namespaces — every downstream
    keyed join (the LLM map's key-attach, the dedup tiebreak) depends on
    this.  (A ``source_index << 40`` scheme would be structurally unique,
    but the per-source id is itself a full-range 64-bit content hash, so
    shifted addition both voids the namespace split and can overflow;
    re-hashing keeps the whole 64-bit domain — same ~5e9-record birthday
    envelope as ``sources.base.stable_record_id`` — and stays
    deterministic across retries/re-splits.)  Positional alignment
    (reference J2, main.py:331-335) is never used."""
    if not sources:
        raise ValueError("no sources configured")
    dfs = []
    for stype, path in sorted(sources.items()):
        df = read_source(spark, stype, path)
        dfs.append(
            df.withColumn(
                "record_id", F.xxhash64(F.lit(stype), F.col("record_id"))
            )
        )
    return union_sources(dfs)


def assert_unique_record_ids(df: DataFrame, id_col: str = "record_id") -> None:
    """Loud-failure guard for ``record_id`` hash collisions.

    ``build_corpus``'s ``xxhash64(source_type, local_id)`` re-key is
    collision-SILENT: inside the ~5e9-record birthday envelope a collision
    is astronomically unlikely, but if one ever lands it would corrupt
    every downstream keyed join (LLM attach, dedup tiebreak) without a
    symptom.  This check makes that failure loud instead.  It costs one
    aggregation over the corpus (a real shuffle at 100 TB), so it is
    opt-in harness/CI machinery, not part of the lazy pipeline plan —
    mirrors the reference's implicit per-source uniqueness assumption
    (parsers_manager.py keys rows by list position, which cannot collide).
    """
    dup = (
        df.groupBy(id_col)
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        keys = ", ".join(str(r[id_col]) for r in dup)
        raise AssertionError(
            f"duplicate {id_col} values detected (hash collision or "
            f"double-ingest): {keys}"
        )


def process(
    df: DataFrame, cfg: PipelineConfig, reporter: "ProgressReporter | None" = None
) -> DataFrame:
    """The combined-processing stage (reference ``CombinedProcessor
    .process_data``, main.py:52-352): dedup → enrich → links → year → LLM.

    Dedup runs FIRST so the expensive enrichment/LLM stages see the shrunk
    row set (the reference's one deliberate physical tactic, SURVEY §4 —
    preserved here by authoring order; Catalyst cannot reorder through the
    non-deterministic LLM stage anyway)."""
    out = priority_dedup(df)
    metrics_df = cfg.metrics_df
    if metrics_df is None and cfg.metrics_fetch_one is not None:
        from scholarmind_spark.operators.enrich import distinct_journals, fetch_metrics_df

        journals = distinct_journals(out)
        metrics_df = fetch_metrics_df(
            out.sparkSession,
            journals,
            cfg.metrics_fetch_one,
            progress=(
                (lambda cur, tot: reporter.update("journal_metrics", cur, tot))
                if reporter is not None
                else None
            ),
        )
    if metrics_df is not None:
        out = enrich_with_metrics(out, metrics_df)
    out = with_link_columns(out)
    out = with_publication_year(out)
    if cfg.llm_template is not None and cfg.llm_client is not None:
        out = llm_extract(
            out,
            cfg.llm_template,
            cfg.llm_client,
            max_workers=cfg.llm_max_workers,
        )
    return out


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    progress_callback: "object | None" = None,
) -> DataFrame:
    """Full lifecycle; returns the final DataFrame (call a sink on it).

    ``progress_callback`` (optional): a callable receiving
    :class:`scholarmind_spark.progress.ProgressEvent`s — the engine-side
    equivalent of the reference's ``update_progress_callback``
    (``app.py:351-370``).  The driver-side journal fetch ticks per
    journal; wrap the final sink action in
    :func:`scholarmind_spark.progress.watch_action` to get task-level
    ticks for the cluster-side stages too.

    When the plan has a Python stage, the Python workers start in a
    background job while the plan is built (one extra job in the caller's
    job group, finished before this returns; see the module docstring)."""
    warmup = _start_worker_warmup(spark, cfg)
    try:
        reporter = None
        if progress_callback is not None:
            from scholarmind_spark.progress import ProgressReporter

            reporter = ProgressReporter(progress_callback)
            reporter.update("parse", 0, 1)
        corpus = build_corpus(spark, cfg.sources)
        if reporter is not None:
            reporter.stage_done("parse")
        return process(corpus, cfg, reporter=reporter)
    finally:
        if warmup is not None:
            warmup.join()


# sources whose scan parses files in a Python worker (``scan_files``)
_PYTHON_SOURCES = frozenset({"pubmed", "wos", "sciencedirect"})


# a StructType, not DDL text: parsing the first DDL string on a cold JVM
# costs ~0.3 s, and the warm-up would pay it before submitting its job
_WARMUP_SCHEMA = StructType([StructField("id", LongType())])


def _pass_batches(batches: Iterator) -> Iterator:
    """The warm-up job's worker function: a pass-through.  Defined here so
    that unpickling it imports this module in the worker."""
    yield from batches


def _start_worker_warmup(spark: SparkSession, cfg: PipelineConfig) -> InheritableThread | None:
    """Start the warm-up job in a thread that inherits the caller's job
    group, or return None when the plan runs no Python stage, the master
    is not local, or workers are not reused."""
    sc = spark.sparkContext
    python_stage = bool(_PYTHON_SOURCES & cfg.sources.keys()) or (
        cfg.llm_template is not None and cfg.llm_client is not None
    )
    if (
        not python_stage
        or not sc.master.startswith("local")
        or sc.getConf().get("spark.python.worker.reuse", "true").lower() != "true"
    ):
        return None

    n = sc.defaultParallelism

    def warm() -> None:
        try:
            spark.range(0, n, 1, n).mapInPandas(_pass_batches, schema=_WARMUP_SCHEMA).collect()
        except Exception:  # a cold worker is slower, never wrong
            pass

    thread = InheritableThread(target=warm, name="python-worker-warmup", daemon=True)
    thread.start()
    return thread
