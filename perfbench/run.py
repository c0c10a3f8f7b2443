"""Seeded, oracle-checked benchmark of the scholarmind_spark engine.

    python3 perfbench/run.py --workload lit_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One run = one workload in one process:

1. generate the inputs from ``--seed`` (not timed);
2. start the session on ``local[4]`` and run one untimed warm-up pass
   (``setup_s``: process start to warm-up done, generation excluded);
3. repeat timed passes for ``--seconds`` (at least one), each with fresh
   state/checkpoint dirs, caches cleared and the CC memo reset;
4. check every pass's outputs against an oracle, outside the timed window,
   and check that every pass did the same work (equal exact counts);
5. with ``--trace 1``, run one pass with layer spans on (its extra time
   over the untraced passes is the tracing overhead), then, untimed, the
   literature pipeline once more with each lazy layer's output executed,
   and report per-layer figures instead of end-to-end ones.

The last stdout line is the result JSON; everything else (per-pass detail,
host and load record, spans of a traced pass) goes to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.probes import (  # noqa: E402
    EXT_CORES_SUSPECT,
    LoadMeter,
    StreamListener,
    Tracer,
    descendants,
    proc_table,
    scheduler_counts,
    self_times,
    tree_peak_rss,
    tree_size,
)
from perfbench.workloads import WORKLOADS, Ctx, Registry  # noqa: E402

CORES = 4

END_TO_END = {"setup_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "process.peak_rss_mb": "MB",
    "sources.parse_s": "s",
    "sources.parse_tasks": "count",
    "sources.records_out": "count",
    "operators.dedup_s": "s",
    "operators.dedup_keep_frac": "ratio",
    "operators.enrich_s": "s",
    "functions.derive_s": "s",
    "llm.extract_s": "s",
    "llm.calls": "count",
    "llm.wait_s": "s",
    "llm.fallback_frac": "ratio",
    "llm.calls_per_record": "ratio",
    "sinks.parquet_s": "s",
    "sinks.excel_s": "s",
    "sinks.plan_runs": "count",
    "sinks.bytes_out_mb": "MB",
    "queries.construct_s": "s",
    "exec.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "plans.exchanges": "count",
    "plans.python_stages": "count",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "state.bytes_written_mb": "MB",
    "state.files_written": "count",
    "state.write_amp": "ratio",
    "trace.overhead_frac": "ratio",
    **{f"q.{s}.{k}": "s" for s in Registry.steps for k in ("construct_s", "execute_s")},
}
# counts that must not change between the passes of one run
EXACT = [
    "spark.jobs", "llm.calls", "sources.files_parsed", "state.files_written",
    "state.bytes_written_mb",
]


def _proc_start_epoch() -> float:
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rfind(")") + 2 :].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / (os.sysconf("SC_CLK_TCK") or 100)


def _env(work: str) -> None:
    """Keep every file the engine, Spark and the JVM write inside the run's
    work dir, and size the session for a shared host."""
    for d in ("tmp", "local", "jvmtmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_STREAM_CK_DIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'jvmtmp')} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _empty(d: str) -> None:
    for name in os.listdir(d):
        p = os.path.join(d, name)
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            os.unlink(p)


def _stop(spark) -> None:
    """Stop the session, the gateway JVM and its Python workers, and wait
    for all of them."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    end = time.time() + 30
    while time.time() < end:
        left = [p for p in descendants(proc_table(), os.getpid()) if p != os.getpid()]
        if not left:
            return
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if importlib.util.find_spec("scholarmind_spark") is None:
        print("perfbench: the scholarmind_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    t_proc = _proc_start_epoch()
    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(args, wl, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


def _run(args, wl, work: str, t_proc: float) -> int:
    t = time.perf_counter()
    wl.generate(os.path.join(work, "data"), args.seed)
    gen_s = time.perf_counter() - t
    _env(work)
    scratch = os.path.join(work, "tmp")

    t = time.perf_counter()
    from scholarmind_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            # keep every job/stage of a pass visible to statusTracker
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    session_s = time.perf_counter() - t
    try:
        return _measure(args, wl, spark, work, scratch, t_proc, gen_s, session_s)
    finally:
        _stop(spark)


def _measure(args, wl, spark, work, scratch, t_proc, gen_s, session_s) -> int:
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracer = Tracer()
    listener = StreamListener(spark)
    ctx = Ctx(spark, tracer, work, scratch)
    wl.setup(ctx)
    load_start = os.getloadavg()[0]

    attempted = failed = 0
    problems: list[str] = []

    def finish_pass(res: dict, mark) -> dict:
        """Untimed bookkeeping after a pass: counters, state on disk,
        fresh scratch, caches cleared, outputs checked."""
        nonlocal attempted, failed
        listener.settle()
        runs, stream = listener.since(mark)
        counts = scheduler_counts(sc, res["groups"] + runs)
        res["jobs_by_step"] = {
            g: scheduler_counts(sc, [g], timeout_s=0)["spark.jobs"] for g in res["groups"]
        }
        counts.update(stream)
        n_bytes, n_files = tree_size(scratch)
        in_bytes = wl.inputs.get("stream_bytes") or wl.inputs["input_bytes"]
        counts.update({
            "state.bytes_written_mb": n_bytes / 1e6,
            "state.files_written": n_files,
            "state.write_amp": n_bytes / in_bytes,
        })
        _empty(scratch)
        spark.catalog.clearCache()
        ops, n_failed, bad = wl.check(res)
        attempted += ops
        failed += n_failed
        problems.extend(bad)
        if hasattr(wl, "pass_counts"):
            counts.update(wl.pass_counts(res))
        res["counts"] = counts
        res["pass_s"] = sum(v for k, v in res["times"].items())
        sc._jvm.System.gc()
        return res

    # warm-up pass: part of set-up, checked like every other pass
    mark = listener.mark()
    warm = wl.run_pass(ctx, 0)
    setup_s = time.time() - t_proc - gen_s
    finish_pass(warm, mark)

    meter = LoadMeter()
    passes = []
    t_begin = time.perf_counter()
    while not passes or time.perf_counter() - t_begin < args.seconds:
        mark = listener.mark()
        meter.begin()
        res = wl.run_pass(ctx, len(passes) + 1)
        res["ext_cores"] = meter.end()
        res["cpu_s"] = meter.own_cpu_s
        passes.append(finish_pass(res, mark))
    peak_rss = tree_peak_rss()

    clean = [p for p in passes if p["ext_cores"] <= EXT_CORES_SUSPECT] or passes
    pass_s = _median([p["pass_s"] for p in clean])
    first = passes[0]["counts"]

    spans_pass = None
    if args.trace:
        # spans only: the same work as a timed pass, so the difference to
        # the untraced passes is what tracing costs
        tracer.spans_on = True
        wl.plans = {}
        mark = listener.mark()
        spans_pass = finish_pass(wl.run_pass(ctx, len(passes) + 1), mark)
        spans, tracer.spans = tracer.spans, []
        if hasattr(wl, "eager_run"):
            tracer.eager = True
            wl.eager_run(ctx)
        eager_spans = tracer.spans
        tracer.spans_on = tracer.eager = False

    # identical work: one more checked operation per run; the warm-up,
    # every timed pass and the spans-only pass must agree on the exact counts
    compared = [warm, *passes] + ([spans_pass] if spans_pass else [])
    differing = sorted(
        k for k in EXACT
        if any(p["counts"].get(k) != warm["counts"].get(k) for p in compared)
    )
    attempted += 1
    if differing:
        failed += 1
        problems.append(
            "passes did different work: "
            + "; ".join(f"{k} {[p['counts'].get(k) for p in compared]}" for k in differing)
        )

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "cores_used": CORES,
            "spark": spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "loadavg_start": load_start,
        },
        "gen_s": gen_s,
        "setup_s": setup_s,
        "session_s": session_s,
        "peak_rss_mb": peak_rss / 1e6,
        "passes": [
            {
                "pass_s": p["pass_s"],
                "times": p["times"],
                "ext_cores": p["ext_cores"],
                "cpu_s": p["cpu_s"],
                "suspect": p["ext_cores"] > EXT_CORES_SUSPECT,
                "counts": p["counts"],
                "jobs_by_step": p["jobs_by_step"],
            }
            for p in passes
        ],
        "identical_work": not differing,
        "warmup_counts": warm["counts"],
        "warmup_jobs_by_step": warm["jobs_by_step"],
        "layer_calls": tracer.calls,
        "problems": problems[:50],
    }

    if args.trace == 0:
        values = {"setup_s": setup_s}
        units = END_TO_END
    else:
        record["spans"] = {"spans_only": spans, "eager": eager_spans}
        record["self_s"] = self_times(spans)
        values = dict.fromkeys(PER_LAYER, 0.0)
        values["session.start_s"] = session_s
        values["process.peak_rss_mb"] = peak_rss / 1e6
        values.update({k: v for k, v in first.items() if k in values})
        for key in passes[0]["times"]:
            if key.startswith("q."):
                values[key] = _median([p["times"].get(key, 0.0) for p in clean])
        values["queries.construct_s"] = _median([
            sum(v for k, v in p["times"].items() if k.endswith("construct_s") or k == "pipeline")
            for p in clean
        ])
        values["exec.execute_s"] = pass_s - values["queries.construct_s"]
        if hasattr(wl, "layer_times"):
            values.update(wl.layer_times(eager_spans, spans_pass))
            values.update(wl.source_stats(ctx, first))
            values["operators.dedup_keep_frac"] = (
                passes[0].get("rows_out", 0) / max(values["sources.records_out"], 1)
            )
        plans = getattr(wl, "plans", {})
        values["plans.exchanges"] = sum(d["exchanges"] for d in plans.values())
        values["plans.python_stages"] = sum(d["python_stages"] for d in plans.values())
        values["trace.overhead_frac"] = spans_pass["pass_s"] / pass_s - 1
        record["spans_pass_s"] = spans_pass["pass_s"]
        record["layer_values"] = values
        units = PER_LAYER

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(
        os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w"
    ) as f:
        json.dump(record, f, indent=1, default=str)
    for p in problems[:10]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
