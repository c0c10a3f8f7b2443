"""Focused 3-rep median endpoint probe for the near-dup pair family.

The full probe (``scale_probe.py``) showed single-run x10/x1 ratios for
these operators are session-noise-dominated (the same binary measured
1.3/1.6/2.7 across runs).  This tool runs the four pair listers at
1x/10x/20x with 3 reps per point, takes per-point MEDIANS, and fits
``t = a + b·N`` by least squares over the three medians — the 20x
endpoint pins the slope, which the 1x/10x pair alone could not (the
fixed overhead a ≈ 4.5 s is ~half of the 10x measurement, so its split
between a and b was fragile).

With 3 points and 2 parameters the fit has ONE residual degree of
freedom; the reported ±slope uncertainty is the 1-dof standard error —
honest but wide, meant to bound "is it linear," not to 3-digit the
slope.  Run serially (no concurrent Spark work) or the medians are
garbage.

Usage: python tools/endpoint_probe.py [sf_dir] [op ...]   (default sf0.1,
all ops).  Prints a markdown table to paste into SCALE.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KS = (1, 10, 20)
REPS = 3


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from scholarmind_spark import get_spark
    from scholarmind_spark.operators.neardup import (
        containment_pairs,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )
    from scholarmind_spark.operators.quality import (
        gopher_quality_flags,
        gopher_repetition_stats,
    )
    from tools.scale_probe import replicated_docs

    def _noop(df):
        df.write.mode("overwrite").format("noop").save()

    def _triangle(df):
        from scholarmind_spark.operators.graph import (
            cooccurrence_edges,
            triangle_stats,
        )
        from scholarmind_spark.util import release_caches

        out = triangle_stats(cooccurrence_edges(df))
        out.collect()
        release_caches(out)

    def _kmv(df):
        from pyspark.sql import functions as F

        from scholarmind_spark.operators.sketch import kmv_distinct_report
        from scholarmind_spark.operators.textstats import tokens

        toks = df.select(
            F.explode(F.transform(tokens(F.col("text")), F.lower)).alias("v")
        ).where(F.col("v") != "")
        kmv_distinct_report(toks, "v", k=256).collect()

    def _snm(df):
        from pyspark.sql import functions as F

        from scholarmind_spark.operators.linkage import sorted_neighborhood_link
        from scholarmind_spark.util import release_caches

        # distinct sortable name-like keys, one per row — SNM's candidate
        # count is (w-1)·n by construction, so work must track n linearly
        names = df.select(F.format_string("name#%012d", F.col("doc_id")).alias("k"))
        out = sorted_neighborhood_link(names, "k", window=3, max_dist=2)
        out.count()
        release_caches(out)

    def _urls(df):
        from pyspark.sql import functions as F

        from scholarmind_spark.operators.urls import canonical_url

        # the text_url_canonical gate's six spellings, scaled by doc_id
        m = F.col("doc_id") % 6
        g = (F.col("doc_id") % 25_000).cast("string")
        url = (
            F.when(m == 0, F.concat(F.lit("https://Example.org/p"), g, F.lit("/")))
            .when(m == 1, F.concat(F.lit("https://www.example.org/p"), g))
            .when(m == 2, F.concat(F.lit("https://example.org:443/p"), g, F.lit("?utm_source=x")))
            .when(m == 3, F.concat(F.lit("https://example.org/p"), g, F.lit("#frag")))
            .when(m == 4, F.concat(F.lit("https://example.org/p"), g, F.lit("?b=2&a=1")))
            .otherwise(F.concat(F.lit("https://example.org/p"), g, F.lit("?a=1&b=2&utm_campaign=z")))
        )
        _noop(
            df.select("doc_id", canonical_url(url).alias("canonical"))
            .groupBy("canonical")
            .agg(F.count("*").alias("n_urls"), F.min("doc_id").alias("first_id"))
        )

    def _bpe(df):
        from pyspark.sql import functions as F

        from scholarmind_spark.operators.bpe import bpe_token_count

        _noop(df.select("doc_id", bpe_token_count(F.col("text")).alias("n")))

    def _hdr(df):
        from pyspark.sql import functions as F

        from scholarmind_spark.operators.sketchledger import (
            hdr_state_build,
            hdr_state_quantiles,
        )

        v = df.select(((F.col("doc_id") % 100000) / 7.0).alias("v"))
        hdr_state_quantiles(hdr_state_build(v, [], "v"), [], (500, 990)).collect()

    def _bloom(df):
        from pyspark.sql import functions as F

        from scholarmind_spark.operators.bloom import bloom_contains
        from scholarmind_spark.operators.sketchledger import bloom_state_build

        keys = df.select(F.col("doc_id").cast("string").alias("v"))
        sk = bloom_state_build(keys, [], "v", m_words=512, k=4)
        _noop(bloom_contains(sk, keys, "v", m_words=512, k=4))

    spark = get_spark(app_name="endpoint-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # round-10 batch: the dedup-ledger paths (batch-side scaling against
    # a FIXED corpus state — the production shape: the state is the
    # standing corpus, the replicated frame is the arriving batch) and
    # the Arrow BPE tier with a ~1k-merge trained table.
    from scholarmind_spark.operators.ledger import (
        ledger_counts_merge,
        ledger_fingerprints,
        ledger_match,
        ledger_revise,
        ledger_shingle_counts,
    )
    from scholarmind_spark.util import release_caches as _release

    _docs0 = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _state_fp = ledger_fingerprints(_docs0)
    _state_counts = ledger_shingle_counts(_state_fp)

    def _ledger_match(df):
        # re-mark the state for caching each call: the harness's
        # clearCache() between reps drops prior entries
        fp = _state_fp.persist()
        cs = _state_counts.persist()
        batch_fp = ledger_fingerprints(df).persist()
        counts_all = ledger_counts_merge(cs, ledger_shingle_counts(batch_fp))
        out = ledger_match(batch_fp, fp, counts_all, threshold=0.5, max_df=100)
        out.count()
        _release(out)
        batch_fp.unpersist()

    def _ledger_revise(df):
        fp = _state_fp.persist()
        cs = _state_counts.persist()
        rev_fp = ledger_fingerprints(df).persist()
        new_fp, new_counts = ledger_revise(fp, cs, rev_fp)
        new_counts.count()
        new_fp.count()
        rev_fp.unpersist()

    _big_merges: list = []

    def _nb_quality(df):
        from scholarmind_spark.operators.nbquality import nb_quality_score
        from scholarmind_spark.util import release_caches

        out = nb_quality_score(df)
        _noop(out)
        release_caches(out)

    def _ccnet_buckets(df):
        from pyspark.sql import functions as F

        from scholarmind_spark.operators.lm import perplexity_buckets
        from scholarmind_spark.util import release_caches

        # replicated_docs drops lang; re-derive a deterministic 3-way
        # class so the per-class window has CCNet's shape
        langs = F.array(F.lit("en"), F.lit("de"), F.lit("fr"))
        out = perplexity_buckets(
            df.withColumn(
                "lang", F.element_at(langs, (F.col("doc_id") % 3 + 1).cast("int"))
            )
        )
        _noop(out)
        release_caches(out)

    def _bpe_arrow(df):
        from scholarmind_spark.operators.bpe import bpe_tokens_batched, bpe_train

        if not _big_merges:
            # trained ONCE per probe run: a ~1k-merge table over the
            # real corpus (merges that actually fire, unlike synthetic
            # never-matching pairs which would flatter the encoder)
            _big_merges.extend(
                bpe_train(_docs0, "text", n_merges=1000, max_vocab=4000)
            )
        from pyspark.sql import functions as F

        _noop(
            bpe_tokens_batched(df, merges=_big_merges).select(
                "doc_id", F.size("bpe_tokens").alias("n")
            )
        )

    ops = {
        "ngram_jaccard": lambda df: ngram_jaccard_pairs(df, threshold=0.6).count(),
        "minhash_lsh": lambda df: minhash_lsh_pairs(df, threshold=0.6).count(),
        "simhash": lambda df: simhash_pairs(df, max_distance=3).count(),
        "containment": lambda df: containment_pairs(df, tau_permille=800).count(),
        # the two Gopher batteries are PROJECTION-shaped (count() would
        # prune the whole computation) — time the full plan into a noop sink
        "gopher_flags": lambda df: _noop(gopher_quality_flags(df)),
        "gopher_repetition": lambda df: _noop(gopher_repetition_stats(df)),
        # round-8 batch 2: graph census + KMV sketch.  Rotated replicas
        # have disjoint vocabularies, so the co-occurrence graph is k
        # disjoint components — census work must track k linearly.  The
        # KMV report is ONE row; .collect() materializes the full
        # scan+prefilter pipeline (nothing prunable upstream of the agg).
        "triangle_census": _triangle,
        "kmv_distinct": _kmv,
        # round-9 batch: SNM's distributed-rank construction (range
        # exchange + offset broadcast) and URL canonicalization (pure
        # JVM regex/array exprs into one groupBy)
        "snm": _snm,
        "url_canonical": _urls,
        # round-9 batch 2: the BPE replace-chain (pure codegen — must be
        # scan-bound), the HDR sketch (bounded-state histogram), and the
        # Bloom build+probe (fixed bitmap, bounded shuffle)
        "bpe_count": _bpe,
        "hdr_quantiles": _hdr,
        "bloom_membership": _bloom,
        # round-10 batch: ledger paths vs fixed state + Arrow BPE tier
        "ledger_match": _ledger_match,
        "ledger_revise": _ledger_revise,
        "bpe_arrow": _bpe_arrow,
        # round-12 batch: the trained-classifier + CCNet-bucket pipelines
        # (token-linear by design: one histogram shuffle + one scoring
        # join; the bucket window adds one low-cardinality exchange)
        "nb_quality": _nb_quality,
        "ccnet_buckets": _ccnet_buckets,
    }
    wanted = sys.argv[2:]
    if wanted:
        unknown = [w for w in wanted if w not in ops]
        if unknown:
            raise SystemExit(f"unknown ops {unknown}; have {sorted(ops)}")
        ops = {k: v for k, v in ops.items() if k in wanted}

    medians: dict[str, dict[int, float]] = {n: {} for n in ops}
    for k in KS:
        df = replicated_docs(spark, sf_dir, k).persist()
        n_rows = df.count()
        for name, fn in ops.items():
            per = []
            for _ in range(REPS):
                t0 = time.time()
                fn(df)
                per.append(time.time() - t0)
                spark.catalog.clearCache()
                df.persist()
                df.count()
            per.sort()
            medians[name][k] = per[len(per) // 2]
            print(
                f"# k={k} {name}: median {medians[name][k]:.2f}s of "
                f"{[round(p, 2) for p in per]}",
                file=sys.stderr,
            )
        df.unpersist()
        print(f"k={k} rows={n_rows} done", file=sys.stderr)

    print("| operator | 1x med | 10x med | 20x med | fixed a | slope b ± se |")
    print("|---|---|---|---|---|---|")
    for name, by_k in medians.items():
        xs = list(KS)
        ys = [by_k[k] for k in KS]
        n = len(xs)
        mx, my = sum(xs) / n, sum(ys) / n
        sxx = sum((x - mx) ** 2 for x in xs)
        b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
        a = my - b * mx
        resid = [y - (a + b * x) for x, y in zip(xs, ys)]
        # 1 residual dof: se(b) = sqrt(SSR / (n-2) / Sxx)
        se = (sum(r * r for r in resid) / (n - 2) / sxx) ** 0.5
        print(
            f"| {name} | {by_k[1]:.1f}s | {by_k[10]:.1f}s | {by_k[20]:.1f}s "
            f"| {a:.1f}s | {b:.2f} ± {se:.2f} s/unit |"
        )


if __name__ == "__main__":
    main()
