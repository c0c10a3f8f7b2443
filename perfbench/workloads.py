"""The workloads.

Each workload generates its inputs from the seed, builds what it needs once
the session is up, runs one pass at a time, and checks every pass's outputs
afterwards against an oracle that does not share the code path under test:

- ``lit_etl``: ``run_pipeline`` → ``write_parquet`` → ``write_excel`` over
  seeded PubMed / WOS / ScienceDirect exports, checked against the
  generator's ground truth.
- ``registry``: a driver-loop fixpoint, a stateful stream drain, a stream
  fold into on-disk state and an execute-bound query, each checked against
  its DuckDB ``ORACLE_SQL`` twin on the same files (the fold written here
  against the package's SQL twin of the batch sketch builder).
"""

from __future__ import annotations

import hashlib
import importlib
import math
import os
import re
import tempfile
import zipfile

from perfbench import gen
from perfbench.probes import scheduler_counts, tree_size

LLM_SERVICE_S = 0.001  # simulated LLM service time per call


class Ctx:
    """What a pass needs: the session, the tracer, and the scratch dir that
    is emptied after every pass."""

    def __init__(self, spark, tracer, work: str, scratch: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.work = work
        self.scratch = scratch

    def step(self, pass_no: int, name: str) -> str:
        group = f"pb{pass_no}.{name}"
        self.sc.setJobGroup(group, name)
        return group


# ------------------------------------------------------------- lit_etl

LIT_LAYERS = [
    # (module, attribute, layer name, executed eagerly in traced passes)
    ("scholarmind_spark.pipeline", "read_source", "sources.read_source", False),
    ("scholarmind_spark.pipeline", "union_sources", "sources.union_sources", True),
    ("scholarmind_spark.pipeline", "priority_dedup", "operators.priority_dedup", True),
    ("scholarmind_spark.pipeline", "enrich_with_metrics", "operators.enrich_with_metrics", True),
    ("scholarmind_spark.pipeline", "with_link_columns", "functions.with_link_columns", True),
    ("scholarmind_spark.pipeline", "with_publication_year", "functions.with_publication_year", True),
    ("scholarmind_spark.pipeline", "llm_extract", "llm.llm_extract", True),
]

# modules whose reader calls ``scan_files`` with its per-file parser
SOURCE_MODULES = [
    "scholarmind_spark.sources.pubmed",
    "scholarmind_spark.sources.wos",
    "scholarmind_spark.sources.sciencedirect",
]

ID_COLUMN = {"pubmed": "pmid", "wos": "wos_id", "sciencedirect": "url"}
CHECKED_COLUMNS = [
    "title", "publication_year", "doi_link", "impact_factor", "sci", "CAS_Zone",
]


class LitEtl:
    def generate(self, data_dir: str, seed: int) -> None:
        self.inputs = gen.make_literature(data_dir, seed)

    def setup(self, ctx: Ctx) -> None:
        from scholarmind_spark.llm import MEDICAL, MockLLMClient, parse_llm_response
        from scholarmind_spark.schemas import METRICS_SCHEMA
        from perfbench.counters import CountedParse, SimulatedService

        self.template = MEDICAL
        self.llm_calls = ctx.sc.accumulator(0)
        self.llm_wait = ctx.sc.accumulator(0.0)
        self.files_parsed = ctx.sc.accumulator(0)
        mock = MockLLMClient(fields=MEDICAL.fields, mode="cycle")
        self.client = SimulatedService(mock, LLM_SERVICE_S, self.llm_calls, self.llm_wait)
        self.metrics_schema = METRICS_SCHEMA
        # expected LLM columns: the mock is a pure function of the prompt
        self.expected_ai = {
            key: parse_llm_response(mock(MEDICAL.messages(t["abstract"])), MEDICAL)
            for key, t in self.inputs["truth"].items()
        }
        for mod, attr, layer, eager in LIT_LAYERS:
            ctx.tracer.patch([importlib.import_module(mod)], attr, layer, eager)
        # count files parsed in the workers; every execution of the
        # upstream plan parses the same files
        for name in SOURCE_MODULES:
            mod = importlib.import_module(name)

            def scan_files(spark, path, parse_file, source_type, _scan=mod.scan_files):
                return _scan(spark, path, CountedParse(parse_file, self.files_parsed), source_type)

            mod.scan_files = scan_files

    def _pipeline(self, spark):
        from scholarmind_spark.pipeline import PipelineConfig, run_pipeline

        cfg = PipelineConfig(
            sources=self.inputs["paths"],
            metrics_df=spark.read.schema(self.metrics_schema).json(self.inputs["metrics_path"]),
            llm_template=self.template,
            llm_client=self.client,
        )
        return run_pipeline(spark, cfg)

    def run_pass(self, ctx: Ctx, pass_no: int) -> dict:
        from scholarmind_spark.sinks import write_excel, write_parquet

        spark, tr = ctx.spark, ctx.tracer
        out = os.path.join(ctx.work, "out", f"pass{pass_no}")
        calls0, wait0 = self.llm_calls.value, self.llm_wait.value
        files0 = self.files_parsed.value
        times, groups = {}, []
        groups.append(ctx.step(pass_no, "pipeline"))
        with tr.span("queries.run_pipeline") as sp:
            df = self._pipeline(spark)
        times["pipeline"] = sp.elapsed
        if tr.spans_on:  # outside the timed spans
            self.plans = {"pipeline": _plan_counts(tr, df)}
        groups.append(ctx.step(pass_no, "parquet"))
        with tr.span("sinks.write_parquet") as sp:
            write_parquet(df, os.path.join(out, "corpus"))
        times["parquet"] = sp.elapsed
        groups.append(ctx.step(pass_no, "excel"))
        with tr.span("sinks.write_excel") as sp:
            write_excel(df, os.path.join(out, "corpus.xlsx"))
        times["excel"] = sp.elapsed
        return {
            "times": times,
            "groups": groups,
            "out": out,
            "llm_calls": self.llm_calls.value - calls0,
            "llm_wait_s": self.llm_wait.value - wait0,
            "files_parsed": self.files_parsed.value - files0,
        }

    def check(self, result: dict) -> tuple[int, int, list[str]]:
        """(operations, failed operations, problems) for one pass: the
        parquet corpus and the workbook are one operation each."""
        problems, failed = [], 0
        for check, path in (
            (self._check_parquet, os.path.join(result["out"], "corpus")),
            (self._check_workbook, os.path.join(result["out"], "corpus.xlsx")),
        ):
            try:
                bad = check(path, result)
            except Exception as e:  # missing or unreadable output fails the operation
                bad = [f"{os.path.basename(path)}: {type(e).__name__}: {e}"]
            failed += bool(bad)
            problems += bad
        return 2, failed, problems

    def _check_parquet(self, path: str, result: dict) -> list[str]:
        import pyarrow.parquet as pq

        rows = pq.read_table(path).to_pylist()
        truth = self.inputs["truth"]
        got = {}
        for r in rows:
            st = str(r["source_type"])
            got[(st, r[ID_COLUMN[st]])] = r
        result["rows_out"] = len(rows)
        result["bytes_out"] = tree_size(path)[0]
        result["fallback"] = sum(
            all(r[f] == self.template.default_for(f) for f in self.template.fields)
            for r in rows
        )
        bad = []
        if len(got) != len(rows):
            bad.append(f"parquet: {len(rows) - len(got)} duplicate survivor keys")
        missing, extra = truth.keys() - got.keys(), got.keys() - truth.keys()
        if missing or extra:
            bad.append(
                f"parquet: survivor set differs ({len(missing)} missing, {len(extra)} extra)"
            )
        wrong: dict[str, int] = {}
        for key in truth.keys() & got.keys():
            r, want = got[key], {**truth[key], **self.expected_ai[key]}
            # ScienceDirect citation lines keep their trailing comma in the title
            if key[0] == "sciencedirect" and r["title"]:
                r["title"] = r["title"].rstrip(",")
            for c in [*CHECKED_COLUMNS, *self.template.fields]:
                if r[c] != want[c]:
                    wrong[c] = wrong.get(c, 0) + 1
        if wrong:
            bad.append(f"parquet: wrong values (column: rows) {wrong}")
        return bad

    def _check_workbook(self, path: str, result: dict) -> list[str]:
        from scholarmind_spark.sinks import SHEET_SPECS

        truth = self.inputs["truth"]
        want = {}
        for i, (sheet, (stype, _)) in enumerate(SHEET_SPECS.items(), 1):
            n = sum(1 for (s, _) in truth if stype is None or s == stype)
            want[f"xl/worksheets/sheet{i}.xml"] = (sheet, n + 1)  # + header row
        bad = []
        with zipfile.ZipFile(path) as z:
            for part, (sheet, n) in want.items():
                got = len(re.findall(rb"<row[ >]", z.read(part)))
                if got != n:
                    bad.append(f"workbook: sheet {sheet} has {got} rows, want {n}")
        return bad

    def pass_counts(self, result: dict) -> dict:
        return {
            "llm.calls": result["llm_calls"],
            "llm.wait_s": result["llm_wait_s"],
            "llm.calls_per_record": result["llm_calls"] / max(result.get("rows_out", 0), 1),
            "llm.fallback_frac": result.get("fallback", 0) / max(result.get("rows_out", 0), 1),
            "sources.files_parsed": result["files_parsed"],
            "sinks.bytes_out_mb": result.get("bytes_out", 0) / 1e6,
        }

    def eager_run(self, ctx: Ctx) -> None:
        """Untimed, traced runs only: build the pipeline once more with the
        tracer's eager mode on, so each lazy layer's span also executes the
        plan up to and including that layer (``exec_s``)."""
        ctx.step(-1, "eager")
        self._pipeline(ctx.spark)

    def layer_times(self, spans: list[dict], result: dict) -> dict:
        """Per-layer execution times: from the eager run's spans, a layer's
        own cost is the difference to the layer before (floored at 0: at
        this scale the difference can be below timing noise); the sinks'
        from the spans-only pass."""
        ex = {}
        for s in spans:
            if "exec_s" in s:
                ex[s["name"]] = ex.get(s["name"], 0.0) + s["exec_s"]
        parse = ex.get("sources.union_sources", 0.0)
        dedup = ex.get("operators.priority_dedup", parse)
        enrich = ex.get("operators.enrich_with_metrics", dedup)
        derive = ex.get("functions.with_publication_year", enrich)
        llm = ex.get("llm.llm_extract", derive)
        return {
            "sources.parse_s": parse,
            "operators.dedup_s": max(dedup - parse, 0.0),
            "operators.enrich_s": max(enrich - dedup, 0.0),
            "functions.derive_s": max(derive - enrich, 0.0),
            "llm.extract_s": max(llm - derive, 0.0),
            "sinks.parquet_s": result["times"]["parquet"],
            "sinks.excel_s": result["times"]["excel"],
        }

    def source_stats(self, ctx: Ctx, counts: dict) -> dict:
        """Untimed: parse tasks (one wholetext task per file split) and the
        corpus size, from a plain re-read of the sources; and the upstream
        plan's executions in a pass (``counts``), as files parsed in the
        pass over files parsed by one plain execution of the pipeline."""
        from scholarmind_spark.pipeline import build_corpus

        group = ctx.step(-1, "sources")
        n = build_corpus(ctx.spark, self.inputs["paths"]).count()
        tasks = scheduler_counts(ctx.sc, [group])["spark.tasks"]
        ctx.step(-1, "plan_run")
        files0 = self.files_parsed.value
        self._pipeline(ctx.spark).write.mode("overwrite").format("noop").save()
        per_run = self.files_parsed.value - files0
        return {
            "sources.records_out": n,
            "sources.parse_tasks": tasks,
            "sinks.plan_runs": counts["sources.files_parsed"] / per_run,
        }


# ------------------------------------------------------- registry steps

def _fold_sketch(spark, data_dir: str, scratch: str):
    """HDR sketch state keyed by (day, event type), folded from the event
    stream source (one file per microbatch) through the public streaming
    fold, then read back from its fresh state dir."""
    from pyspark.sql import functions as F

    from scholarmind_spark.streaming import read_events_stream, stream_fold_sketch_state

    stream = read_events_stream(
        spark, os.path.join(data_dir, "events_stream"), max_files_per_trigger=1
    ).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.col("event_type").alias("seg"),
        F.col("value").alias("v"),
    )
    state = os.path.join(tempfile.mkdtemp(prefix="sketch_", dir=scratch), "state")
    ck = tempfile.mkdtemp(prefix="sketch_ck_", dir=scratch)
    stream_fold_sketch_state(stream, state, ["day", "seg"], "v", checkpoint=ck).awaitTermination()
    return spark.read.parquet(state).select("day", "seg", "sign", "bucket", "cnt")


def _fold_sketch_sql() -> str:
    from scholarmind_spark.operators.sketchledger import hdr_state_build_sql

    pairs = "SELECT strftime(ts, '%Y-%m-%d') AS day, event_type AS seg, value AS v FROM events"
    return "SELECT * FROM " + hdr_state_build_sql(pairs, ["day", "seg"])


# steps that are not registry entries: (fn(spark, dir, scratch), oracle SQL)
CUSTOM_STEPS = {"fold_sketch": (_fold_sketch, _fold_sketch_sql)}

STREAM_LAYERS = [
    "read_events_stream", "run_to_memory", "stream_dedup", "stream_fold_sketch_state",
]

# per-session memos of the package: analyzed table frames and stream
# schemas.  Dropped before every pass, so each pass pays its own reads as a
# fresh process does and no pass reuses what an earlier one analyzed.
MEMOS = [
    ("scholarmind_spark.queries", "_T_MEMO"),
    ("scholarmind_spark.streaming.pipeline", "_SCHEMA_MEMO"),
]

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    """Type-tagged value canonicalization (ints and integral floats share
    the numeric tag, as in the project's correctness gate)."""
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        if math.isnan(v):
            return "n:NaN"
        if math.isinf(v):
            return "n:inf" if v > 0 else "n:-inf"
        return f"n:{int(v)}" if v == int(v) and abs(v) < 1e15 else f"n:{v!r}"
    if isinstance(v, int):
        return f"n:{v}"
    if hasattr(v, "isoformat"):
        return f"t:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "y:" + bytes(v).hex()
    return "s:" + str(v).replace("\\", "\\\\").replace("\x1f", "\\x1f")


def digest(cols: list[str], rows: list) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted column names, order-free value hash)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()[:16]
    return len(rows), tuple(sorted(cols)), h


class Registry:
    """Registry (and fold) steps: construct with ``fn(spark, dir)``,
    execute with ``collect()``, check against DuckDB."""

    steps = [
        "dedup_cluster_sizes",   # driver-loop fixpoint (connected components)
        "events_stream_dedup",   # stateful stream drain (state store)
        "fold_sketch",           # stream fold into on-disk sketch state
        "q18_large_orders",      # execute-bound scan/aggregate/join
    ]

    def __init__(self):
        self._oracle: dict[str, tuple] = {}
        self.plans: dict[str, dict] = {}

    def generate(self, data_dir: str, seed: int) -> None:
        self.inputs = gen.make_tables(data_dir, seed)
        # bytes the stream steps consume: the base of state.write_amp
        self.inputs["stream_bytes"] = tree_size(
            os.path.join(data_dir, "events_stream")
        )[0] + os.path.getsize(os.path.join(data_dir, "events.parquet"))

    def setup(self, ctx: Ctx) -> None:
        from scholarmind_spark.queries import SPARK_QUERIES

        unknown = [s for s in self.steps if s not in SPARK_QUERIES and s not in CUSTOM_STEPS]
        if unknown:
            raise SystemExit(f"unknown steps: {unknown}")
        mods = [
            importlib.import_module(m)
            for m in ("scholarmind_spark.streaming", "scholarmind_spark.streaming.pipeline")
        ]
        for attr in STREAM_LAYERS:
            ctx.tracer.patch(mods, attr, f"streaming.{attr}")

    def _fn(self, step: str):
        from scholarmind_spark.queries import SPARK_QUERIES

        if step in CUSTOM_STEPS:
            return CUSTOM_STEPS[step][0]
        return lambda spark, d, scratch: SPARK_QUERIES[step](spark, d)

    def run_pass(self, ctx: Ctx, pass_no: int) -> dict:
        from scholarmind_spark.queries import reset_shared_components
        from scholarmind_spark.util import release_caches

        d, tr = self.inputs["dir"], ctx.tracer
        for mod, attr in MEMOS:
            getattr(importlib.import_module(mod), attr, {}).clear()
        times, outputs, errors, groups = {}, {}, {}, []
        for step in self.steps:
            groups.append(ctx.step(pass_no, step))
            if step == "dedup_cluster_sizes":
                reset_shared_components()  # pay the shared CC memo every pass
            try:
                with tr.span(f"queries.{step}") as c:
                    df = self._fn(step)(ctx.spark, d, ctx.scratch)
                with tr.span(f"exec.{step}") as e:
                    rows = df.collect()
            except Exception as exc:
                errors[step] = f"{type(exc).__name__}: {str(exc)[:300]}"
                continue
            times[f"q.{step}.construct_s"] = c.elapsed
            times[f"q.{step}.execute_s"] = e.elapsed
            outputs[step] = (df.columns, rows)
            if tr.spans_on:  # outside the timed spans
                self.plans[step] = _plan_counts(tr, df)
            release_caches(df)
        return {"times": times, "outputs": outputs, "errors": errors, "groups": groups}

    def oracle(self) -> dict[str, tuple]:
        if not self._oracle:
            import duckdb

            from scholarmind_spark.queries import ORACLE_SQL

            con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.inputs["dir"], f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for step in self.steps:
                sql = CUSTOM_STEPS[step][1]() if step in CUSTOM_STEPS else ORACLE_SQL[step]
                res = con.execute(materialize_ctes(sql))
                self._oracle[step] = digest([c[0] for c in res.description], res.fetchall())
            con.close()
        return self._oracle

    def check(self, result: dict) -> tuple[int, int, list[str]]:
        """(operations, failed operations, problems): one operation per
        step; a step fails by raising or by disagreeing with its oracle."""
        want = self.oracle()
        problems = [f"{s}: {e}" for s, e in result["errors"].items()]
        for step, (cols, rows) in result["outputs"].items():
            got = digest(cols, rows)
            if got != want[step]:
                problems.append(f"{step}: spark {got} vs oracle {want[step]}")
        result["outputs"] = {}  # checked; free the rows
        return len(self.steps), len(problems), problems


def materialize_ctes(sql: str) -> str:
    """The same query with every named CTE materialized: DuckDB otherwise
    inlines a CTE at each reference, and a recursive walk over the pair
    graph recomputes the whole pair search at every step."""
    return re.sub(r"(\w+) AS \((?=\s*(?:WITH|SELECT)\b)", r"\1 AS MATERIALIZED (", sql)


def _plan_counts(tracer, df) -> dict:
    from scholarmind_spark.plans import plan_digest

    with tracer.span("plans.plan_digest"):
        dg = plan_digest(df)
    return {k: dg[k] for k in ("exchanges", "python_stages")}


WORKLOADS = {"lit_etl": LitEtl, "registry": Registry}
