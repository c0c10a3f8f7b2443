"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line to stdout: {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: median_sec}, "sf": ...}.  Per-rep
timing arrays go to stderr — the driver's stdout capture truncates long
lines (BENCH_r04/r05 recorded "parsed": null), so stdout carries medians
only and stays well under a few KB.

Each query is executed as Spark would in production — the FULL plan into
a noop sink (count() would let the optimizer prune every computed column
and drop sorts, timing a bare row count for projection-shaped queries) —
and timed wall-clock.  A warmup pass on a trivial query absorbs one-time
JVM/codegen costs so numbers reflect steady state.

Every query runs $SPARK_GRAFT_BENCH_REPS times (default 3) and reports
the MEDIAN, keeping the per-rep values — two rounds of single-rep bench
produced phantom 10×+ outliers (container noise) that were
indistinguishable from real plan regressions.

ORDER DISCIPLINE (round 12): the ten most expensive queries run FIRST,
in a fresh session, before ~100 cheaper queries have accumulated heap /
codegen-cache / session-position pressure.  Three rounds of
`dedup_containment` tail-drift (r9 6.0 → r10 8.8 → r11 11.9 s, while
every isolated 7-rep anchor stayed flat at 5.3-6.4 s and the plan
digest never changed) showed the old family-blocked order biased the
heavy dedup block's recorded numbers by session position — the
expensive queries are exactly the ones the per-round diff scrutinizes,
so they get the cleanest window.  The EXPENSIVE_FIRST list is pinned
from the r11 medians (re-pin when the top-10 set changes); everything
else keeps its family-blocked order.  dedup_cluster_sizes stays ahead
of dedup_cluster_reps globally so the shared-CC-memo semantics are
unchanged (sizes pays the fixpoint, reps measures the memoized path).
"""

from __future__ import annotations

import json
import os
import sys
import time

# --------------------------------------------------------- load forensics
#
# Two consecutive driver-recorded benches (r11, r12) landed in external-
# load windows and the exoneration had to be reconstructed after the fact
# from SCALE.md prose and manual re-runs.  The artifact now defends
# itself: every query window measures EXTERNAL CPU — host busy jiffies
# (/proc/stat, host-wide even in a container) minus this process tree's
# own jiffies (self + descendants utime/stime + reaped-children
# cutime/cstime) — so "someone else was burning N cores during this
# query" is a number IN the JSON, not an inference.  Plain loadavg is
# recorded too, but mid-run it is dominated by our own local[32] threads;
# ext_cores is the signal, loadavg the corroboration.  A query whose
# window saw ext_cores > EXT_CORES_SUSPECT is flagged suspect, and the
# summary carries {load_start, load_max, ext_max, n_suspect, suspect}.
# Threshold documented in SCALE.md ("Bench load forensics").
#
# Round 13: the meter wraps EACH REP, and the recorded median is taken
# over the CLEAN reps (ext_cores <= threshold); a query is flagged
# suspect only when no rep was clean.  Transient co-tenant bursts that
# die mid-query stop poisoning medians entirely — three r13 closing
# runs were burst-hit, and under per-query metering each lost whole
# queries that had 1-2 perfectly clean reps.

EXT_CORES_SUSPECT = 2.0  # >2 external cores busy during a window → suspect
LOAD_START_SUSPECT = 2.0  # 1-min loadavg before Spark starts; idle host <1

# Round 14: ANCHOR TRIAGE — the last manual forensics step automated.
# bench_anchors.json pins per-query clean-window medians (seeded from a
# clean run, updated only from clean runs); every query gets a verdict:
#   at_anchor      — median within ANCHOR_TOL of its anchor (or faster)
#   elevated_dirty — slower, but NO rep had a clean external-CPU window:
#                    not comparable, says so itself
#   elevated_clean — slower WITH a clean window: the only category that
#                    means a real regression → diff the plan digest
#   new            — no anchor recorded yet
# The summary carries the counts + the elevated_clean names; per-query
# ratios go to stdout as #t lines (short-line discipline).
#
# Round 15 basis fix: anchors compare LIKE WITH LIKE.  The r14 file
# pinned the per-query MIN of clean reps (post-JIT best case), which a
# colder full run can never match — BENCH_r14 carried ~17 false
# elevated_clean tags whose plan sections were byte-identical modulo
# expression IDs.  Anchors now store {"med", "min"} per query (float
# values from older files read as med), triage compares the clean-rep
# MEDIAN against the anchor MEDIAN, and every full-protocol run writes
# bench_last_run.json so tools/seed_anchors.py can promote a clean run
# into bench_anchors.json mechanically (policy: clean runs only).
ANCHOR_TOL_RATIO = 1.30  # >= 30% over anchor → elevated
ANCHOR_TOL_ABS = 0.40    # ...but never flag sub-half-second jitter

# Gates whose rep 1 pays state-fold/build costs later reps don't (the
# manifest high-water mark turns re-folds into no-ops): their rep-1 is
# recorded separately (#r1 stdout lines + bench_last_run.json) so the
# build cost and the standing-state read cost stay distinguishable.
FOLD_PAYING = [
    "ann_index_rerank",
    "ann_index_residual",
    "ann_index_retire",
    "ann_index_stream",
    "dedup_ledger_roundtrip",
]

_HZ = os.sysconf("SC_CLK_TCK") or 100


def _host_busy_jiffies() -> int:
    """Non-idle jiffies across all host CPUs (user+nice+system+irq+
    softirq+steal; idle and iowait excluded).  guest and guest_nice
    (fields 9-10) are excluded too: the kernel already accounts guest
    time inside user and guest_nice inside nice, so summing them would
    double-count VM time and inflate ext_cores on virtualized hosts."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts[:8]]  # user..steal only
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return sum(vals) - idle


def _own_tree_jiffies() -> int:
    """utime+stime+cutime+cstime summed over this process and every live
    descendant (the Spark JVM and its pyspark workers are children)."""
    me = os.getpid()
    ppid_of: dict[int, int] = {}
    stat_of: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # comm may contain spaces/parens: split after the LAST ')'
        rest = raw[raw.rfind(")") + 2 :].split()
        pid = int(d)
        ppid_of[pid] = int(rest[1])
        # rest[11..14] = utime stime cutime cstime (fields 14-17)
        stat_of[pid] = sum(int(x) for x in rest[11:15])
    total = 0
    for pid in stat_of:
        p = pid
        for _ in range(64):  # ancestor walk, cycle-bounded
            if p == me:
                total += stat_of[pid]
                break
            p = ppid_of.get(p, 0)
            if p <= 1:
                break
    return total


class _LoadMeter:
    """Per-window external-CPU meter + loadavg tracker."""

    def __init__(self) -> None:
        self.load_start = round(os.getloadavg()[0], 2)
        self.load_max = self.load_start
        self._t = self._host = self._own = 0.0

    def begin(self) -> None:
        self.load_max = max(self.load_max, round(os.getloadavg()[0], 2))
        self._t = time.time()
        self._host = _host_busy_jiffies()
        self._own = _own_tree_jiffies()

    def end(self) -> float:
        """External cores busy during the window (≥ 0)."""
        dt = max(time.time() - self._t, 1e-3)
        host = _host_busy_jiffies() - self._host
        own = _own_tree_jiffies() - self._own
        self.load_max = max(self.load_max, round(os.getloadavg()[0], 2))
        return max(0.0, (host - own) / _HZ / dt)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_regional_revenue",
    "q6_forecast_revenue",
    "top_customers_per_nation",
    "rollup_order_stats",
    "cube_order_stats",
    "pivot_status_counts",
    "lit_incremental_merge",
    "q4_returned_orders",
    "q14_promo_revenue",
    "q7_nation_trade",
    "q8_market_share",
    "q9_profit_by_nation",
    "q10_returned_customers",
    "q12_late_lines_by_priority",
    "q13_order_count_distribution",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q19_bracket_revenue",
    "q21_waiting_suppliers",
    "q18_large_orders",
    "orders_running_total",
    "distinct_users_per_type",
    "lit_parse_pubmed",
    "lit_priority_dedup",
    "lit_fuzzy_dedup",
    "lit_enrich_join",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality_stats",
    "text_bpe_tokens",
    "link_multipass",
    "dedup_ledger_roundtrip",
    "events_hdr_quantiles",
    "sketch_bloom_membership",
    "events_time_bars",
    "events_kmv_by_segment",
    "orders_bloom_prune",
    "events_hdr_by_type",
    "text_bpe_tokens_large",
    "sketch_ledger_drift",
    "sketch_ledger_rollup",
    "sketch_ledger_distinct",
    "sketch_ledger_membership",
    "sketch_ledger_compact",
    "sketch_ledger_compact_kmv",
    "sketch_ledger_compact_bloom",
    # dedup_ledger_revise, dedup_ledger_retire, dedup_ledger_expire,
    # dedup_ledger_mor, sketch_ledger_roundtrip and dedup_ledger_bloom
    # are driver-gated but not benched: like dedup_ledger_roundtrip they
    # are self-verifying double-computations whose cost is fixed
    # materialization units, and one such anchor in the bench already
    # covers the shape (isolated anchors for all three live in SCALE.md)
    "text_clean",
    "token_topk",
    "text_word_repetition",
    "text_gopher_flags",
    "text_gopher_repetition",
    "text_top_terms",
    "text_chunk_documents",
    "text_pack_sequences",
    "decontam_overlap",
    "text_scrub_spans",
    "text_duplicate_spans",
    "text_scrub_dupspans",
    "decontam_spans",
    "text_url_canonical",
    "dataset_mixture",
    "dataset_token_mixture",
    "dataset_token_mixture_upsample",
    "dataset_dsir_select",
    "events_json_props",
    "profile_documents",
    "kmeans_assign_cells",
    "events_value_histogram",
    "doc_fingerprint",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_ivfadc_topk",
    "ann_pq_trained",
    "ann_index_stream",
    "ann_index_retire",
    "ann_ivfadc_rerank",
    "dedup_embedding_cosine",
    "dedup_semantic",
    "events_asof_join",
    "events_range_join",
    "order_price_quantiles",
    "skew_salted_join",
    "skew_two_phase_distinct",
    "corpus_curation",
    "dataset_split",
    "lit_llm_extract",
    "media_byte_stats",
    "media_features",
    "events_tumbling",
    "events_sliding",
    "events_funnel",
    "events_cohort_retention",
    "events_sessionize",
    "graph_pagerank",
    "text_lm_score",
    "text_ccnet_buckets",
    "text_quality_classifier",
    "link_fuzzy_vocab",
    "events_rolling_anomaly",
    "embed_centroid_classify",
    "orders_snapshot_diff",
    "fk_audit",
    "source_vocab_overlap",
    "events_winsorize",
    "events_mutual_information",
    "source_health_report",
    "lineitem_weighted_median",
    "events_stream_anomaly",
    "dataset_shuffle_order",
    "skew_key_report",
    "events_session_paths",
    "embed_quantize_int8",
    "text_collocations",
    "orders_fd_audit",
    "events_daily_drift",
    "dedup_containment",
    "events_benford_audit",
    "dedup_cluster_sizes",
    "events_interarrival",
    "events_mad_outliers",
    "text_pii_redact",
    "dedup_incremental",
    "dedup_cluster_reps",
    "graph_triangles",
    "sketch_distinct_kmv",
    "link_sorted_neighborhood",
    "lineitem_contract_check",
]

# The top-10 by median — run first, fresh-session (module docstring).
# Re-pinned round 15 from the r14 medians (the pin rule: re-pin when
# the top-10 SET changes; the r14 run deferred it to avoid invalidating
# same-round anchors): ann_index_retire (12.2 — fold+retire+query per
# rep by design), link_multipass (8.6) and dedup_semantic (8.2) enter;
# dedup_minhash_lsh / dedup_ngram_jaccard / dedup_incremental return to
# family order.  The r15 anchor re-seed happens in this order, so the
# in-context values stay comparable.  dedup_cluster_sizes stays ahead
# of link_multipass: sizes resets and pays the shared CC memo,
# multipass measures the memoized path (the long-standing semantics).
EXPENSIVE_FIRST = [
    "dedup_ledger_roundtrip",
    "ann_index_retire",
    "text_gopher_repetition",
    "text_duplicate_spans",
    "decontam_spans",
    "dedup_cluster_sizes",
    "link_multipass",
    "text_scrub_dupspans",
    "dedup_semantic",
    "dedup_containment",
]
assert set(EXPENSIVE_FIRST) <= set(BENCH_QUERIES)
BENCH_QUERIES = EXPENSIVE_FIRST + [
    q for q in BENCH_QUERIES if q not in EXPENSIVE_FIRST
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from scholarmind_spark import get_spark
    from scholarmind_spark.queries import SPARK_QUERIES

    spark = get_spark(app_name="scholarmind-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM, parquet footer reads, codegen.  A full mid-weight
    # query through the noop sink (not just a limit-count) — with the
    # expensive queries now running FIRST, a thin warmup left the
    # session's codegen/shuffle warmup inside rep 1 of the most
    # expensive query (observed: dedup_ledger_roundtrip reps
    # 23.0/17.5/15.7 — rep 1 carried ~7 s of session warmup)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(10).count()
    SPARK_QUERIES["q1_pricing_summary"](spark, sf_dir).write.mode(
        "overwrite"
    ).format("noop").save()

    n_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # SPARK_GRAFT_BENCH_ONLY=a,b,c — isolated-measure mode for anchor
    # medians (SCALE.md "noop-basis anchors"): a query timed alone in a
    # fresh session is free of the late-session heap/position effects the
    # full-list run carries, so it anchors round-over-round drift.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    bench_queries = BENCH_QUERIES
    if only:
        wanted = [q.strip() for q in only.split(",") if q.strip()]
        unknown = [q for q in wanted if q not in SPARK_QUERIES]
        if unknown:
            raise SystemExit(f"unknown bench queries: {unknown}")
        bench_queries = wanted
    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    ext_cores: dict[str, float] = {}
    clean_counts: dict[str, int] = {}
    # Round 16 (verdict ask #1): split CONSTRUCTION (fn(spark, sf_dir) —
    # driver-side plan building + analysis, a per-query constant that does
    # NOT shrink with data volume) from EXECUTION (the noop-sink write —
    # the part that scales with data).  ADDITIVE fields only: the timed
    # window and the recorded per-query median are unchanged (construct +
    # execute == the same wall-clock total as before); the split is
    # recorded per rep and reported for the rep whose total IS the
    # recorded median, so construct+execute always sums to the median.
    construct: dict[str, float] = {}
    execute: dict[str, float] = {}
    meter = _LoadMeter()
    from scholarmind_spark.queries import reset_shared_components

    for name in bench_queries:
        fn = SPARK_QUERIES[name]
        per_rep: list[float] = []
        per_ext: list[float] = []
        per_con: list[float] = []
        n = 0
        for _ in range(n_reps):
            if name == "dedup_cluster_sizes":
                # first cluster-family query: pay the shared CC cost inside
                # the timed window every rep (honest median); the later
                # family members (dedup_cluster_reps) then measure the
                # shared-consumer path the memo exists for
                reset_shared_components()
            meter.begin()
            t0 = time.time()
            df = fn(spark, sf_dir)
            per_con.append(round(time.time() - t0, 3))
            # Timed action is a NOOP SINK, not count(): under count() the
            # optimizer prunes every computed column (and EliminateSorts
            # drops orderBys), so projection-shaped queries (text_clean,
            # doc_fingerprint, embed_quantize_int8, ...) timed a
            # column-less parquet row count — a 100x regression in the
            # projection itself would have been invisible.  The noop
            # format executes the full plan and discards rows.
            df.write.mode("overwrite").format("noop").save()
            per_rep.append(round(time.time() - t0, 3))
            per_ext.append(round(meter.end(), 2))
            # Steady-state isolation: drop cached relations and nudge the
            # JVM to release accumulated broadcast/shuffle state.  Without
            # this, heap pressure from ~20 prior queries throttles the
            # tail of the run ~10x (observed: 282s -> 73s total at sf0.1).
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        # Burst resilience (round 13): the meter wraps EACH REP, and the
        # median is taken over the reps whose own window was clean — a
        # transient co-tenant burst that hits rep 1 of 3 no longer
        # poisons the recorded median (observed in the r13 anchor run:
        # dataset_dsir_select reps 18.6/15.7/4.6/4.4/4.0 under a burst
        # that died mid-query).  A query is SUSPECT only when NO rep was
        # clean — then the all-rep median is recorded and the flag says
        # exactly why it is not comparable.
        clean = [i for i, x in enumerate(per_ext) if x <= EXT_CORES_SUSPECT]
        # rep indices ordered by time, drawn from the clean reps only (all
        # reps when none was clean), so the median rep is itself clean
        basis = sorted(clean or range(len(per_rep)), key=per_rep.__getitem__)
        med_i = basis[len(basis) // 2]
        timings[name] = per_rep[med_i]
        # the construct/execute split of the median rep (so construct +
        # execute == the median exactly)
        construct[name] = per_con[med_i]
        execute[name] = round(per_rep[med_i] - per_con[med_i], 3)
        clean_counts[name] = len(clean)
        mins[name] = per_rep[basis[0]]
        ext_cores[name] = min(per_ext) if clean else round(
            sum(per_ext) / len(per_ext), 2
        )
        reps[name] = per_rep
        n = fn(spark, sf_dir).count()  # row count for the log, untimed
        print(
            f"# {name}: {timings[name]}s median of {per_rep}"
            f" (ext per rep {per_ext}, {len(clean)}/{n_reps} clean,"
            f" {n} rows)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # Per-rep detail is diagnostics, not the machine-readable result:
    # keep it off stdout so the driver's capture never truncates the line.
    print("# reps: " + json.dumps(reps), file=sys.stderr)
    # The driver keeps only the LAST ~2 KB of stdout (tail-biased): a
    # single full-queries JSON line (~4-5 KB for 97 queries) loses its
    # HEAD, so "parsed" came back null in r4-r6.  Emit the per-query map
    # as many short stdout lines first (greppable, individually intact),
    # then make the FINAL line a <1 KB summary JSON that always survives.
    full = {k: round(v, 3) for k, v in timings.items()}
    items = sorted(full.items())
    for i in range(0, len(items), 8):
        print("#q " + json.dumps(dict(items[i : i + 8]), separators=(",", ":")))
    # per-query external-cores map, same short-line discipline (#l lines)
    litems = sorted(ext_cores.items())
    for i in range(0, len(litems), 8):
        print("#l " + json.dumps(dict(litems[i : i + 8]), separators=(",", ":")))
    # ---- anchor triage (round 14): per-query verdicts vs bench_anchors.json
    anchors_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_anchors.json"
    )
    anchors: dict[str, float] = {}
    if os.path.exists(anchors_path):
        with open(anchors_path) as f:
            _a = json.load(f)
        # anchors are per-SF AND per-protocol: comparing an sf0.01 smoke
        # to sf0.1 anchors would flag everything, and a single-rep or
        # BENCH_ONLY subset run pays cold fold/JIT costs the full-list
        # multi-rep protocol amortizes (observed: ann_index_stream 24.1s
        # on a 1-rep smoke vs its 3.2s in-context anchor — all warmup).
        # Off-protocol runs triage as "new".
        if str(_a.get("sf")) == sf and not only and n_reps >= 2:
            raw_anchors = _a.get("anchors", {})
            # r15 format: {"med": x, "min": y}; older files stored a
            # bare float (the min basis) — read it as the med and let
            # re-seeding replace it
            anchors = {
                k: (v["med"] if isinstance(v, dict) else v)
                for k, v in raw_anchors.items()
            }
    triage: dict[str, str] = {}
    for name, med in timings.items():
        a = anchors.get(name)
        if a is None:
            triage[name] = "new"
        elif med <= max(a * ANCHOR_TOL_RATIO, a + ANCHOR_TOL_ABS):
            triage[name] = "at_anchor"
        elif clean_counts.get(name, 0) == 0:
            triage[name] = "elevated_dirty"
        else:
            triage[name] = "elevated_clean"
    # per-query ratio detail: short #t stdout lines (greppable, intact)
    tit = sorted(
        (k, [round(v, 2), anchors.get(k), triage[k]])
        for k, v in timings.items()
        if triage[k] != "at_anchor"
    )
    for i in range(0, len(tit), 6):
        print("#t " + json.dumps(dict(tit[i : i + 6]), separators=(",", ":")))
    elevated_clean = sorted(
        (k for k, v in triage.items() if v == "elevated_clean"),
        key=lambda k: -(timings[k] / anchors[k]),
    )
    triage_summary = {
        "at_anchor": sum(v == "at_anchor" for v in triage.values()),
        "elev_dirty": sum(v == "elevated_dirty" for v in triage.values()),
        "new": sum(v == "new" for v in triage.values()),
        "elev_clean": elevated_clean[:5],
    }
    # rep-1 vs rest for the fold-paying gates: rep 1 pays the state
    # build, later reps time the standing-state read path
    r1 = {
        k: [reps[k][0], timings[k]]
        for k in FOLD_PAYING
        if k in reps and len(reps[k]) >= 2
    }
    if r1:
        print("#r1 " + json.dumps(r1, separators=(",", ":")))
    # construct/execute split (#c lines, short-line discipline): the
    # slowest queries' [construct, execute] pairs — printed LAST among
    # the detail lines so the driver's tail-biased stdout capture keeps
    # them.  Full per-query maps go to bench_last_run.json below.
    cit = sorted(full.items(), key=lambda kv: (-kv[1], kv[0]))[:12]
    cmap = {k: [construct[k], execute[k]] for k, _ in cit}
    cl = sorted(cmap.items())
    for i in range(0, len(cl), 4):
        print("#c " + json.dumps(dict(cl[i : i + 4]), separators=(",", ":")))

    suspects = sorted(
        (k for k, v in ext_cores.items() if v > EXT_CORES_SUSPECT),
        key=lambda k: -ext_cores[k],
    )
    load = {
        "start": meter.load_start,
        "max": meter.load_max,
        "ext_max": max(ext_cores.values()) if ext_cores else 0.0,
        "n_suspect": len(suspects),
        "suspect_queries": suspects[:5],
        "suspect": bool(suspects) or meter.load_start > LOAD_START_SUSPECT,
    }
    print("# load: " + json.dumps(load), file=sys.stderr)
    # full-protocol runs leave a machine-readable record so
    # tools/seed_anchors.py can promote a CLEAN run into
    # bench_anchors.json without hand-editing (the r15 basis-fix
    # workflow; off-protocol runs leave no record on purpose)
    if not only and n_reps >= 2:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "bench_last_run.json",
            ),
            "w",
        ) as f:
            json.dump(
                {
                    "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                    "n_reps": n_reps,
                    "load": load,
                    "clean_counts": clean_counts,
                    "med": {k: round(v, 3) for k, v in timings.items()},
                    "min": {k: round(v, 3) for k, v in mins.items()},
                    "rep1": r1,
                    "construct": construct,
                    "execute": execute,
                },
                f,
                indent=1,
                sort_keys=True,
            )
    slowest = sorted(full.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    summary = {
        "metric": "headline-query wall-clock total",
        "value": total,
        "unit": "sec",
        "queries": dict(slowest),
        "n_queries": len(full),
        "split": {
            "construct": round(sum(construct.values()), 3),
            "execute": round(sum(execute.values()), 3),
        },
        "load": load,
        "triage": triage_summary,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    line = json.dumps(summary, separators=(",", ":"))
    while len(line) > 950 and (
        summary["queries"] or load["suspect_queries"] or triage_summary["elev_clean"]
    ):
        if summary["queries"]:
            summary["queries"].popitem()
        elif triage_summary["elev_clean"]:
            triage_summary["elev_clean"].pop()
        else:
            load["suspect_queries"].pop()
        line = json.dumps(summary, separators=(",", ":"))
    print(line)
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
