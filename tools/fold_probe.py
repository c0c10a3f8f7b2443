"""Endpoint probe for the sketch-state ledger FOLD path + a 90-day
retention simulation.

The dedup-ledger probes certified ``ledger_match``/``ledger_revise``;
this is the same certification for the sketch-state folds the
``sketch_ledger_roundtrip`` gate pins and ``stream_fold_sketch_state``
runs per microbatch.  The claim under test is "each fold shuffles
O(state), never O(raw data)": with the PER-DAY BATCH FIXED and the
STATE GROWING (1x/10x/20x day counts — 30/300/600 days of day×segment
HDR state), fold time and drift-answer time must stay linear in the
state's day count with a small slope, because the fold only unions the
delta against state rows and the drift windows hold one row per
(seg, day).

Probe protocol matches ``endpoint_probe.py``: 3 reps per point,
per-point medians, least-squares ``t = a + b·k`` over the three
medians with the honest 1-dof standard error.  Run serially (no
concurrent Spark work) or the medians are garbage.

The second half simulates 90 sequential daily folds THROUGH PARQUET
(the production state shape: read snapshot, merge delta, compact,
staged write + swap) with a 7-day day-grain retention and the
'm'||(day div 30) monthly coarse grain, and verifies the final
compacted state equals a direct mixed-grain build over all 90 batches
(compact-each-fold == compact-once by additivity) while reporting the
state-size ceiling the compaction enforces.

Round 12 extends the same certification to the STREAMING DEDUP LEDGER
(``stream_ledger_ingest``, manifest protocol):

- ``ledger_probe`` — fold ONE FIXED revision batch into standing
  fp+counts state of 1x/10x/20x corpus size (state read from parquet,
  the production shape).  The honest claim is NOT O(delta): the
  snapshot protocol REWRITES the whole fp table per version, so fold
  cost = O(delta shingles) compute + O(standing corpus) state rewrite
  — the probe measures that slope so the 100 TB posture is a number,
  not an adjective (the scale path past it is partitioning the state
  write or a merge-on-read table format; the COUNTS delta itself is
  bounded by the batch).
- ``ledger_sim_mor`` — 30 sequential doc microbatches through the REAL
  ``_ledger_ingest_fn_mor`` fold (compact_every=8) with revisions (ids
  [0,50) re-ingested every 3rd batch) and out-of-band tombstone
  retirement transactions (20 ids after folds 9/19/29) mixed in;
  verifies the final resolved state pair equals a from-scratch build
  over the latest version of every surviving doc (full-outer mismatch
  0 on both tables) and reports incremental vs compaction fold
  medians.
- ``ledger_write_probe`` — the write cost of one fixed revision batch,
  copy-on-write rewrite (``ledger_revise`` + both full tables) vs the
  merge-on-read delta pair, at 1x/10x/20x standing corpus.

Round 13 adds ``mor_read`` — the merge-on-read CHAIN-READ term, made
measurable and pinned (the r12 verdict's named residual): standing
corpora of 1x/10x/20x are folded into bucket-partitioned MoR state
(bucket_rows=500), then a FIXED 20-doc revision batch's neg-lookup is
measured both ways — pruned to the batch's touched buckets vs the old
full-chain read — in ROWS SCANNED (ground truth, the SemDeDup
pair-count discipline) and wall; the pruned resolve is asserted equal
to the unpruned resolve on the batch ids at every k.  The pruned read
is bounded by |batch| x bucket_rows + deltas regardless of corpus.

Round 14 adds ``vector`` — the streaming IVF-PQ vector index after its
MoR-ification (the r13 verdict's named CoW regression): standing
corpora of 1x/10x/20x are folded into a cell-partitioned base, then a
FIXED 50-vector batch folds (delta rows written must equal the batch at
every k — the CoW fold rewrote the whole enc table) and a fixed 5-query
nprobe=2 read is measured pruned (probed cells + delta stack) vs the
full chain, with pruned == full resolve asserted within probed cells.

Round 15 extends ``vector`` with the PER-CELL COMPACTION row: the
fixed batches are single-cell (fresh ids, copies of centroid 0's
embedding), so the compaction they trigger must rewrite only that
cell's standing rows — written-rows slope ≈ one cell's share of the
corpus vs the full-rewrite baseline's corpus slope, with the other
~31 cells carried forward by cellmap reference (asserted in-probe).

Usage: python tools/fold_probe.py [sf_dir]
[probe|simulate|ledger_probe|ledger_write_probe|ledger_sim_mor|mor_read|vector]
... (default: probe+simulate, sf0.1).  Prints markdown rows to paste
into SCALE.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KS = (1, 10, 20)
REPS = 3
BASE_DAYS = 30  # the events table spans days 19723..19752


def _fit_row(name: str, by_k: dict[int, float], unit: str = "s") -> str:
    xs = list(KS)
    ys = [by_k[k] for k in KS]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    a = my - b * mx
    resid = [y - (a + b * x) for x, y in zip(xs, ys)]
    se = (sum(r * r for r in resid) / (n - 2) / sxx) ** 0.5
    return (
        f"| {name} | {by_k[1]:.1f}{unit} | {by_k[10]:.1f}{unit} "
        f"| {by_k[20]:.1f}{unit} "
        f"| {a:.1f}{unit} | {b:.2f} ± {se:.2f} {unit}/unit |"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    modes = set(sys.argv[2:]) or {"probe", "simulate"}

    from pyspark.sql import functions as F

    from scholarmind_spark import get_spark
    from scholarmind_spark.operators.sketchledger import (
        hdr_state_build,
        hdr_state_compact,
        hdr_state_drift,
        hdr_state_merge,
    )

    spark = get_spark(app_name="fold-probe")
    spark.sparkContext.setLogLevel("ERROR")

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    keyed = events.select(
        F.expr("unix_timestamp(ts) div 86400").cast("bigint").alias("dayn"),
        F.col("event_type").alias("seg"),
        F.col("value").alias("v"),
    )
    base_state = hdr_state_build(
        keyed.select(F.col("dayn").cast("string").alias("day"), "seg", "v"),
        ["day", "seg"],
        "v",
    ).persist()
    base_rows = base_state.count()
    min_day = keyed.agg(F.min("dayn")).first()[0]
    max_day = keyed.agg(F.max("dayn")).first()[0]

    # the fixed per-day delta: ONE real day's events (the production
    # microbatch), relabeled past every replicated state day so the
    # fold always appends a genuinely new day
    one_day = keyed.where(F.col("dayn") == max_day).persist()
    one_day.count()

    def replicate(base, k: int, cols: list):
        # k state replicas with +40*i day offsets: 30·k distinct days
        # (the 30 base days fit inside each 40-day stride), segments
        # shared — exactly "state growing, per-day batch fixed".  ONE
        # device for every family so the slope comparison compares like
        # with like.
        reps = spark.range(k).select(F.col("id").alias("i"))
        return base.crossJoin(reps).select(
            (F.col("day").cast("bigint") + F.col("i") * 40)
            .cast("string")
            .alias("day"),
            *cols,
        )

    def state_at(k: int):
        return replicate(base_state, k, ["seg", "sign", "bucket", "cnt"])

    if "probe" in modes:
        from scholarmind_spark.operators.sketchledger import (
            bloom_state_build,
            bloom_state_merge,
            kmv_state_build,
            kmv_state_merge,
        )

        delta_day = max_day + 40 * max(KS)  # past every replica's days
        delta_src = one_day.select(
            F.lit(str(delta_day)).alias("day"),
            "seg",
            "v",
            F.col("v").cast("string").alias("u"),
        )
        delta = hdr_state_build(delta_src, ["day", "seg"], "v").persist()
        delta.count()
        delta_kmv = kmv_state_build(delta_src, ["day", "seg"], "u", 64).persist()
        delta_kmv.count()
        delta_bloom = bloom_state_build(
            delta_src, ["day", "seg"], "u", 64, 4
        ).persist()
        delta_bloom.count()

        # same day-offset replication for the set-semantics families:
        # base states built once, day keys shifted per replica
        base_src = keyed.select(
            F.col("dayn").cast("string").alias("day"),
            "seg",
            F.col("v").cast("string").alias("u"),
        )
        base_kmv = kmv_state_build(base_src, ["day", "seg"], "u", 64).persist()
        base_kmv.count()
        base_bloom = bloom_state_build(
            base_src, ["day", "seg"], "u", 64, 4
        ).persist()
        base_bloom.count()

        def _noop(df):
            df.write.mode("overwrite").format("noop").save()

        medians: dict[str, dict[int, float]] = {
            "hdr_state_merge": {},
            "hdr_state_drift": {},
            "kmv_state_merge": {},
            "bloom_state_merge": {},
        }
        for k in KS:
            st = state_at(k).persist()
            n_cells = st.count()
            st_kmv = replicate(base_kmv, k, ["seg", "h"]).persist()
            st_kmv.count()
            st_bloom = replicate(base_bloom, k, ["seg", "word", "bits"]).persist()
            st_bloom.count()
            for name, fn in (
                ("hdr_state_merge", lambda: _noop(hdr_state_merge(st, delta))),
                ("hdr_state_drift", lambda: hdr_state_drift(st).count()),
                (
                    "kmv_state_merge",
                    lambda: _noop(kmv_state_merge(st_kmv, delta_kmv, 64)),
                ),
                (
                    "bloom_state_merge",
                    lambda: _noop(bloom_state_merge(st_bloom, delta_bloom)),
                ),
            ):
                per = []
                for _ in range(REPS):
                    t0 = time.time()
                    fn()
                    per.append(time.time() - t0)
                per.sort()
                medians[name][k] = per[len(per) // 2]
                print(
                    f"# k={k} ({k * BASE_DAYS} days, {n_cells} hdr cells) "
                    f"{name}: median {medians[name][k]:.2f}s of "
                    f"{[round(p, 2) for p in per]}",
                    file=sys.stderr,
                )
            st.unpersist()
            st_kmv.unpersist()
            st_bloom.unpersist()
        print("| operator | 1x med | 10x med | 20x med | fixed a | slope b ± se |")
        print("|---|---|---|---|---|---|")
        for name, by_k in medians.items():
            print(_fit_row(name, by_k))

    if "simulate" in modes:
        # 90 sequential daily folds through parquet with retention 7
        # days + monthly coarsening applied at every fold
        root = tempfile.mkdtemp(prefix="foldsim_")
        state_path = os.path.join(root, "state")
        max_rows = 0
        t0 = time.time()
        batches = []
        for i in range(90):
            day = str(min_day + i)
            batch = one_day.select(F.lit(day).alias("day"), "seg", "v")
            batches.append(batch)
            delta = hdr_state_build(batch, ["day", "seg"], "v")
            if os.path.isdir(state_path):
                snap = spark.read.schema(delta.schema).parquet(state_path)
                merged = hdr_state_merge(snap, delta)
            else:
                merged = delta
            cutoff = str(min_day + i - 6)
            compacted = hdr_state_compact(merged, "day", cutoff)
            staging = f"{state_path}.staging"
            compacted.coalesce(1).write.mode("overwrite").parquet(staging)
            if os.path.isdir(state_path):
                shutil.rmtree(state_path)
            os.rename(staging, state_path)
            n = spark.read.parquet(state_path).count()
            max_rows = max(max_rows, n)
        elapsed = time.time() - t0

        final = spark.read.parquet(state_path)
        final_rows = final.count()
        final_days = final.select("day").distinct().count()

        # direct mixed-grain build over ALL 90 batches at the final
        # cutoff — compact-each-fold must equal compact-once
        from functools import reduce

        all_rows = reduce(lambda a, b: a.unionByName(b), batches)
        direct = hdr_state_compact(
            hdr_state_build(all_rows, ["day", "seg"], "v"),
            "day",
            str(min_day + 89 - 6),
        )
        uncompacted_rows = hdr_state_build(all_rows, ["day", "seg"], "v").count()
        mism = (
            final.withColumnRenamed("cnt", "va")
            .join(
                direct.withColumnRenamed("cnt", "vb"),
                ["day", "seg", "sign", "bucket"],
                "full_outer",
            )
            .where(~F.col("va").eqNullSafe(F.col("vb")))
            .count()
        )
        print(
            f"| hdr 90-day fold+compact (7-day retention, monthly grain) "
            f"| state ceiling {max_rows} rows, final {final_rows} rows "
            f"/ {final_days} grains vs {uncompacted_rows} uncompacted "
            f"| compact-each-fold == compact-once: mismatch {mism} "
            f"| {elapsed:.0f}s for 90 folds |"
        )
        shutil.rmtree(root, ignore_errors=True)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    if "ledger_probe" in modes:
        from scholarmind_spark.operators.ledger import (
            ledger_fingerprints,
            ledger_revise,
            ledger_shingle_counts,
        )

        def _noop(df):
            df.write.mode("overwrite").format("noop").save()

        root = tempfile.mkdtemp(prefix="ledgerprobe_")
        # the fixed delta: 500 base-range docs re-ingested with changed
        # text — a REVISION at every k (ids present in every state)
        rev = docs.where(F.col("doc_id") < 500).select(
            "doc_id", F.concat("text", F.lit(" probe-rev")).alias("text")
        )
        rev_fp = ledger_fingerprints(rev).persist()
        rev_fp.count()

        medians: dict[str, dict[int, float]] = {"ledger_revise_fold": {}}
        n_docs_total = docs.count()
        for k in KS:
            reps_df = spark.range(k).select(F.col("id").alias("i"))
            corpus = docs.crossJoin(reps_df).select(
                (F.col("doc_id") + F.col("i") * 10_000_000).alias("doc_id"),
                "text",
            )
            fp_dir = os.path.join(root, f"fp_{k}")
            cnt_dir = os.path.join(root, f"cnt_{k}")
            fp_k = ledger_fingerprints(corpus)
            fp_k.write.mode("overwrite").parquet(fp_dir)
            fp_state = spark.read.parquet(fp_dir)
            ledger_shingle_counts(fp_state).write.mode("overwrite").parquet(
                cnt_dir
            )
            counts_state = spark.read.parquet(cnt_dir)
            n_state = fp_state.count()
            per = []
            for _ in range(REPS):
                t0 = time.time()
                new_fp, new_counts = ledger_revise(
                    fp_state, counts_state, rev_fp
                )
                _noop(new_fp)
                _noop(new_counts)
                per.append(time.time() - t0)
                spark.catalog.clearCache()
            per.sort()
            medians["ledger_revise_fold"][k] = per[len(per) // 2]
            print(
                f"# k={k} ({n_state} standing docs, "
                f"{k * n_docs_total} expected) ledger_revise_fold: median "
                f"{per[len(per) // 2]:.2f}s of {[round(p, 2) for p in per]}",
                file=sys.stderr,
            )
        print(
            "| operator | 1x med | 10x med | 20x med | fixed a | slope b ± se |"
        )
        print("|---|---|---|---|---|---|")
        print(_fit_row("ledger_revise_fold (fixed 500-doc batch)", medians["ledger_revise_fold"]))
        shutil.rmtree(root, ignore_errors=True)

    if "ledger_write_probe" in modes:
        # head-to-head WRITE cost, CoW vs MoR incremental, ACTUAL parquet
        # writes (the ledger_probe above forces noop sinks, so it times
        # compute + state SCAN but not the write term the MoR design
        # removes): fold ONE FIXED 500-doc revision batch into standing
        # state of 1x/10x/20x corpus size and time the full fold work —
        # CoW = revise + write BOTH full tables; MoR = neg-lookup
        # (O(state) read) + write the two DELTA files only.
        from scholarmind_spark.operators.ledger import (
            ledger_fingerprints,
            ledger_mor_resolve_fp,
            ledger_revise,
            ledger_shingle_counts,
        )

        root = tempfile.mkdtemp(prefix="ledgerwrite_")
        rev = docs.where(F.col("doc_id") < 500).select(
            "doc_id", F.concat("text", F.lit(" probe-rev")).alias("text")
        )
        rev_fp = ledger_fingerprints(rev).persist()
        rev_fp.count()

        medians: dict[str, dict[int, float]] = {
            "cow_fold_write": {},
            "mor_fold_write": {},
        }
        for k in KS:
            reps_df = spark.range(k).select(F.col("id").alias("i"))
            corpus = docs.crossJoin(reps_df).select(
                (F.col("doc_id") + F.col("i") * 10_000_000).alias("doc_id"),
                "text",
            )
            fp_dir = os.path.join(root, f"fp_{k}")
            cnt_dir = os.path.join(root, f"cnt_{k}")
            ledger_fingerprints(corpus).write.mode("overwrite").parquet(fp_dir)
            fp_state = spark.read.parquet(fp_dir)
            ledger_shingle_counts(fp_state).write.mode("overwrite").parquet(
                cnt_dir
            )
            counts_state = spark.read.parquet(cnt_dir)
            n_state = fp_state.count()
            base_chain = fp_state.select(
                "id", "n", "hs",
                F.lit(0).cast("int").alias("seq"),
                F.lit(False).alias("tomb"),
            )
            out = os.path.join(root, f"out_{k}")
            for name, fn in (
                ("cow_fold_write", None),
                ("mor_fold_write", None),
            ):
                per = []
                for r in range(REPS):
                    t0 = time.time()
                    if name == "cow_fold_write":
                        new_fp, new_counts = ledger_revise(
                            fp_state, counts_state, rev_fp
                        )
                        new_fp.write.mode("overwrite").parquet(
                            os.path.join(out, "fp")
                        )
                        new_counts.write.mode("overwrite").parquet(
                            os.path.join(out, "counts")
                        )
                    else:
                        old = ledger_mor_resolve_fp(base_chain).join(
                            rev_fp.select("id"), "id", "left_semi"
                        )
                        neg = ledger_shingle_counts(old).select(
                            "sh", (-F.col("df_count")).alias("df_count")
                        )
                        dcounts = (
                            ledger_shingle_counts(rev_fp)
                            .unionByName(neg)
                            .groupBy("sh")
                            .agg(F.sum("df_count").alias("df_count"))
                            .where(F.col("df_count") != 0)
                        )
                        dfp = rev_fp.select(
                            "id", "n", "hs",
                            F.lit(1).cast("int").alias("seq"),
                            F.lit(False).alias("tomb"),
                        )
                        dfp.write.mode("overwrite").parquet(
                            os.path.join(out, "dfp")
                        )
                        dcounts.write.mode("overwrite").parquet(
                            os.path.join(out, "dcounts")
                        )
                    per.append(time.time() - t0)
                    spark.catalog.clearCache()
                per.sort()
                medians[name][k] = per[len(per) // 2]
                print(
                    f"# k={k} ({n_state} standing docs) {name}: median "
                    f"{per[len(per) // 2]:.2f}s of {[round(p, 2) for p in per]}",
                    file=sys.stderr,
                )
        print(
            "| operator | 1x med | 10x med | 20x med | fixed a | slope b ± se |"
        )
        print("|---|---|---|---|---|---|")
        for name, by_k in medians.items():
            print(_fit_row(name, by_k))
        rev_fp.unpersist()
        shutil.rmtree(root, ignore_errors=True)

    if "ledger_sim_mor" in modes:
        # 30 folds through the merge-on-read fold (compact_every=8) —
        # O(batch) incremental writes, periodic compaction; retirement
        # as tombstone-delta transactions under the same bound.
        # Reported separately: incremental-fold vs compaction-fold
        # medians, so the amortization is a number.
        from scholarmind_spark.operators.ledger import (
            ledger_fingerprints,
            ledger_shingle_counts,
        )
        from scholarmind_spark.streaming.pipeline import (
            _ledger_ingest_fn_mor,
            ledger_mor_retire,
            ledger_state_mor,
        )
        from scholarmind_spark.streaming.state import read_manifest

        root = tempfile.mkdtemp(prefix="ledgersimmor_")
        state = os.path.join(root, "state")
        lineage = "cafef00d"
        compact_every = 8
        fold = _ledger_ingest_fn_mor(state, lineage, compact_every=compact_every)
        n_batches, batch_sz, n_rev = 30, 150, 50
        retired_ids: list[int] = []
        inc_times: list[float] = []
        compact_times: list[float] = []
        t_all = time.time()
        for i in range(n_batches):
            lo = i * batch_sz
            batch = docs.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + batch_sz)
            ).select("doc_id", "text")
            if i > 0 and i % 3 == 0:
                batch = batch.unionByName(
                    docs.where(F.col("doc_id") < n_rev).select(
                        "doc_id",
                        F.concat("text", F.lit(f" rev{i}")).alias("text"),
                    )
                )
            pre = read_manifest(state) if i > 0 else None
            t0 = time.time()
            fold(batch, i)
            dt = time.time() - t0
            post = read_manifest(state)
            # a fold that moved the base forward was a compaction
            if pre is None or post.base > pre.base:
                compact_times.append(dt)
            else:
                inc_times.append(dt)
            if i % 10 == 9:
                ids = list(range(lo - 100, lo - 80))
                retired_ids.extend(ids)
                ledger_mor_retire(
                    spark,
                    state,
                    spark.createDataFrame([(x,) for x in ids], "id bigint"),
                )
        elapsed = time.time() - t_all

        last_rev = max(i for i in range(n_batches) if i > 0 and i % 3 == 0)
        expected = (
            docs.where(F.col("doc_id") < n_batches * batch_sz)
            .where(~F.col("doc_id").isin(retired_ids))
            .select(
                "doc_id",
                F.when(
                    F.col("doc_id") < n_rev,
                    F.concat("text", F.lit(f" rev{last_rev}")),
                )
                .otherwise(F.col("text"))
                .alias("text"),
            )
        )
        fp_direct = ledger_fingerprints(expected).persist()
        counts_direct = ledger_shingle_counts(fp_direct)
        got_fp, got_counts = ledger_state_mor(spark, state)
        fp_mism = (
            got_fp.alias("a")
            .join(fp_direct.alias("b"), "id", "full")
            .where(
                ~F.col("a.n").eqNullSafe(F.col("b.n"))
                | ~F.col("a.hs").eqNullSafe(F.col("b.hs"))
            )
            .count()
        )
        cnt_mism = (
            got_counts.alias("a")
            .join(counts_direct.alias("b"), "sh", "full")
            .where(~F.col("a.df_count").eqNullSafe(F.col("b.df_count")))
            .count()
        )
        n_state = got_fp.count()
        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        print(
            f"| stream_ledger_ingest MoR 30-fold sim (compact_every="
            f"{compact_every}, revisions + tombstone retirements) "
            f"| final state {n_state} docs | resolved state == "
            f"from-scratch: fp mismatch {fp_mism}, counts mismatch "
            f"{cnt_mism} | incremental folds med {med(inc_times):.2f}s "
            f"({len(inc_times)}), compaction folds med "
            f"{med(compact_times):.2f}s ({len(compact_times)}) | "
            f"{elapsed:.0f}s total |"
        )
        fp_direct.unpersist()
        shutil.rmtree(root, ignore_errors=True)



    if "mor_read" in modes:
        # the r12 residual, measured: neg-lookup read term vs standing
        # corpus, pruned (bucketed base, touched buckets only) vs the
        # old full-chain read.  Rows scanned are the ground truth; wall
        # corroborates.  Exactness: pruned resolve == unpruned resolve
        # on the batch ids at every k.
        from scholarmind_spark.operators.ledger import ledger_mor_resolve_fp
        from scholarmind_spark.streaming.pipeline import (
            _ledger_ingest_fn_mor,
            _mor_chains,
            _mor_touched_buckets,
        )
        from scholarmind_spark.streaming.state import read_manifest

        bucket_rows, batch_n = 500, 20
        rows_pruned: dict[int, float] = {}
        rows_full: dict[int, float] = {}
        wall_pruned: dict[int, float] = {}
        wall_full: dict[int, float] = {}
        n_docs_total = docs.count()
        for k in KS:
            root = tempfile.mkdtemp(prefix=f"morread{k}_")
            state = os.path.join(root, "state")
            reps_df = spark.range(k).select(F.col("id").alias("i"))
            corpus = docs.crossJoin(reps_df).select(
                (F.col("doc_id") + F.col("i") * 10_000_000).alias("doc_id"),
                "text",
            )
            fold = _ledger_ingest_fn_mor(
                state, "cafef00d", compact_every=64, bucket_rows=bucket_rows
            )
            # initial fold writes the bucketed base; a second small fold
            # stacks one real delta so the chain is base+delta shaped
            fold(corpus, 0)
            fold(
                docs.where(F.col("doc_id") < 100).select(
                    "doc_id", F.concat("text", F.lit(" d1")).alias("text")
                ),
                1,
            )
            head = read_manifest(state)
            version, base_v = head.version, head.base
            batch_ids = spark.range(batch_n).select(F.col("id"))
            per_p, per_f = [], []
            for _ in range(REPS):
                t0 = time.time()
                touched = _mor_touched_buckets(batch_ids, state, base_v)
                chain_p, _ = _mor_chains(
                    spark, state, base_v, version, fp_buckets=touched
                )
                n_p = chain_p.count()
                per_p.append(time.time() - t0)
                t0 = time.time()
                chain_f, _ = _mor_chains(spark, state, base_v, version)
                n_f = chain_f.count()
                per_f.append(time.time() - t0)
                spark.catalog.clearCache()
            # exactness: resolved rows for the batch ids agree
            res_p = ledger_mor_resolve_fp(chain_p).join(
                batch_ids, "id", "left_semi"
            )
            res_f = ledger_mor_resolve_fp(chain_f).join(
                batch_ids, "id", "left_semi"
            )
            mism = (
                res_p.alias("a")
                .join(res_f.alias("b"), "id", "full")
                .where(
                    ~F.col("a.n").eqNullSafe(F.col("b.n"))
                    | ~F.col("a.hs").eqNullSafe(F.col("b.hs"))
                )
                .count()
            )
            assert mism == 0, f"pruned resolve diverged at k={k}: {mism}"
            per_p.sort(); per_f.sort()
            rows_pruned[k], rows_full[k] = float(n_p), float(n_f)
            wall_pruned[k] = per_p[len(per_p) // 2]
            wall_full[k] = per_f[len(per_f) // 2]
            print(
                f"# k={k} ({k * n_docs_total} standing docs): pruned "
                f"{n_p} rows {wall_pruned[k]:.2f}s | full {n_f} rows "
                f"{wall_full[k]:.2f}s | batch-id resolve mismatch 0",
                file=sys.stderr,
            )
            shutil.rmtree(root, ignore_errors=True)
        print(
            f"| neg-lookup read (fixed {batch_n}-doc batch, "
            f"bucket_rows={bucket_rows}) | 1x | 10x | 20x | fixed a | "
            f"slope b +- se |"
        )
        print("|---|---|---|---|---|---|")
        print(_fit_row("mor chain rows PRUNED", rows_pruned, unit=" rows"))
        print(_fit_row("mor chain rows FULL (old path)", rows_full, unit=" rows"))
        print(_fit_row("mor chain wall PRUNED (s)", wall_pruned))
        print(_fit_row("mor chain wall FULL (s)", wall_full))

    if "vector" in modes:
        # Round 14: the streaming IVF-PQ vector index, MoR-ified — the
        # r13 verdict's named regression closed and MEASURED.  Standing
        # corpus 1x/10x/20x folded into a cell-partitioned base; then
        # (a) a FIXED 50-vector batch folds as a delta — written rows
        # must equal |batch| at every k (the CoW fold rewrote the whole
        # enc table); (b) a 5-query nprobe=2 read — rows scanned pruned
        # (probed cells + delta stack) vs the full chain (old path).
        # Exactness: pruned resolve == full resolve within probed cells.
        from scholarmind_spark.operators.ledger import mor_resolve
        from scholarmind_spark.streaming.pipeline import (
            _vec_chain,
            _vector_ingest_fn,
        )
        from scholarmind_spark.streaming.state import read_manifest

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n_emb = emb.count()
        batch_n, nq, nprobe = 50, 5, 2
        dw: dict[int, float] = {}   # delta rows written
        dwall: dict[int, float] = {}
        qrows_p: dict[int, float] = {}
        qrows_f: dict[int, float] = {}
        qwall_p: dict[int, float] = {}
        qwall_f: dict[int, float] = {}
        crows: dict[int, float] = {}   # compaction rows written (r15)
        crows_full: dict[int, float] = {}  # full-rewrite baseline
        cwall: dict[int, float] = {}
        for k in KS:
            root = tempfile.mkdtemp(prefix=f"vecidx{k}_")
            state = os.path.join(root, "state")
            reps_df = spark.range(k).select(F.col("id").alias("i"))
            corpus = emb.crossJoin(reps_df).select(
                (F.col("vec_id") + F.col("i") * 10_000_000).alias("vec_id"),
                "embedding",
            )
            fold = _vector_ingest_fn(
                state, "cafef00d", compact_every=2,
                coarse_ids=list(range(32)),
            )
            fold(corpus, 0)  # creation: cell-partitioned base (O(state), amortized)
            # the fixed delta: 50 FRESH ids (900M+ — far above any
            # replicated corpus id, which caps at ~190M+n_emb), all
            # copies of centroid 0's embedding so they route to ONE cell — keeps the later
            # compaction's touched set single-cell (the per-cell claim
            # needs a batch that does not spray the whole cell space)
            cvec0 = emb.where(F.col("vec_id") == 0).first()["embedding"]
            one_cell = lambda lo: spark.createDataFrame(  # noqa: E731
                [(lo + i, list(cvec0)) for i in range(batch_n)],
                "vec_id long, embedding array<double>",
            )
            t0 = time.time()
            fold(one_cell(900_000_000), 1)  # the fixed delta
            dwall[k] = time.time() - t0
            dw[k] = float(
                spark.read.parquet(os.path.join(state, "v-1", "denc")).count()
            )
            head = read_manifest(state, "vector-index")
            version, base_v = head.version, head.base
            q = emb.where(F.col("vec_id").isin(list(range(nq)))).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
            # probed cells, resolved the same way ann_state_query does
            from scholarmind_spark.streaming.pipeline import ann_state_query

            res = ann_state_query(
                spark, state, q, k=10, nprobe=nprobe
            )
            res.collect()  # warm footer caches before timing
            coarse = spark.read.parquet(
                os.path.join(state, f"v-{version}", "coarse")
            )
            from scholarmind_spark.operators.pq import _probe_cells

            cells = [
                r["cell"]
                for r in _probe_cells(q, coarse, nprobe)
                .select("cell").distinct().collect()
            ]
            per_p, per_f = [], []
            for _ in range(REPS):
                t0 = time.time()
                n_p = _vec_chain(spark, state, base_v, version, cells=cells).count()
                per_p.append(time.time() - t0)
                t0 = time.time()
                n_f = _vec_chain(spark, state, base_v, version).count()
                per_f.append(time.time() - t0)
                spark.catalog.clearCache()
            # exactness: pruned resolve == full resolve within probed cells
            r_p = mor_resolve(
                _vec_chain(spark, state, base_v, version, cells=cells)
            ).where(F.col("cell").isin(cells))
            r_f = mor_resolve(
                _vec_chain(spark, state, base_v, version)
            ).where(F.col("cell").isin(cells))
            mism = (
                r_p.alias("a")
                .join(r_f.alias("b"), "id", "full")
                .where(
                    ~F.col("a.cell").eqNullSafe(F.col("b.cell"))
                    | ~F.col("a.pq").eqNullSafe(F.col("b.pq"))
                )
                .count()
            )
            assert mism == 0, f"pruned vec resolve diverged at k={k}: {mism}"
            per_p.sort(); per_f.sort()
            qrows_p[k], qrows_f[k] = float(n_p), float(n_f)
            qwall_p[k] = per_p[len(per_p) // 2]
            qwall_f[k] = per_f[len(per_f) // 2]
            # (c) PER-CELL COMPACTION write volume (r15): a second
            # one-cell batch crosses compact_every=2 — the compaction
            # must rewrite only the touched cell (its standing rows +
            # both batches), carrying the other ~31 cells forward by
            # cellmap reference; the old path rewrote the whole corpus
            t0 = time.time()
            fold(one_cell(910_000_000), 2)
            cwall[k] = time.time() - t0
            head = read_manifest(state, "vector-index")
            v2, b2 = head.version, head.base
            assert b2 == v2, "fold 2 did not compact"
            crows[k] = float(
                spark.read.parquet(
                    os.path.join(state, f"v-{v2}", "enc")
                ).count()
            )
            crows_full[k] = float(k * n_emb + 2 * batch_n)
            cm = spark.read.parquet(
                os.path.join(state, f"v-{v2}", "cellmap")
            )
            n_carried = cm.where(F.col("frag") != v2).count()
            print(
                f"# k={k} ({k * n_emb} standing vectors): delta wrote "
                f"{int(dw[k])} rows in {dwall[k]:.2f}s | query read pruned "
                f"{n_p} rows {qwall_p[k]:.2f}s | full {n_f} rows "
                f"{qwall_f[k]:.2f}s | probed-cell resolve mismatch 0 | "
                f"compaction wrote {int(crows[k])} rows "
                f"(corpus {int(crows_full[k])}) in {cwall[k]:.2f}s, "
                f"{n_carried} cells carried by reference",
                file=sys.stderr,
            )
            shutil.rmtree(root, ignore_errors=True)
        print(
            f"| vector index (fixed {batch_n}-vec batch, {nq} queries "
            f"nprobe={nprobe}, 32 cells) | 1x | 10x | 20x | fixed a | "
            f"slope b +- se |"
        )
        print("|---|---|---|---|---|---|")
        print(_fit_row("vec fold delta rows WRITTEN", dw, unit=" rows"))
        print(_fit_row("vec fold wall (s)", dwall))
        print(_fit_row("vec query rows PRUNED", qrows_p, unit=" rows"))
        print(_fit_row("vec query rows FULL (old path)", qrows_f, unit=" rows"))
        print(_fit_row("vec query wall PRUNED (s)", qwall_p))
        print(_fit_row("vec query wall FULL (s)", qwall_f))
        print(_fit_row(
            "vec compaction rows WRITTEN (touched cell)", crows, unit=" rows"
        ))
        print(_fit_row(
            "vec compaction rows full-rewrite baseline", crows_full,
            unit=" rows",
        ))
        print(_fit_row("vec compaction wall (s)", cwall))


if __name__ == "__main__":
    main()
