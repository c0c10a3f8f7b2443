"""SemDeDup scaling probe: fixed codebook vs corpus-scaled codebook.

The operator's candidate volume is Σ cell_size².  With a FIXED k-cell
codebook, growing the corpus c× grows every cell c× and the pair stage
c²× — the probe MEASURES that superlinearity instead of hand-waving it.
The production answer (semdedup.py docstring): scale k with the corpus
so expected cell size stays constant — the scaled-k series here holds
cell size flat and must stay ~linear.

Replicas: each copy flips the sign of embedding dimension d when bit
(d mod 6) of the replica index is set — an isometry (norms, intra-replica
distances and cosines preserved), so every replica carries the same
near-dup structure while landing in different orientations.  The
scaled-k codebook takes the SAME 16 deterministic vec_ids from every
replica (ids shifted per copy), i.e. 16·c centroids.

3-rep medians at 1x/4x/8x with least-squares slope per series (the
endpoint_probe fit).  Run serially — concurrent Spark work wrecks the
medians.

Usage: python tools/semdedup_probe.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KS = (1, 4, 8)
REPS = 3
THRESHOLD = 0.25


def replicated_embeddings(spark, sf_dir: str, c: int):
    from functools import reduce

    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    copies = []
    for i in range(c):
        signs = F.array(
            *[F.lit(-1.0 if (i >> (d % 6)) & 1 else 1.0) for d in range(64)]
        )
        copies.append(
            e.select(
                (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                F.zip_with(
                    F.col("embedding"), signs, lambda x, s: x.cast("double") * s
                ).alias("embedding"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), copies)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import functions as F

    from scholarmind_spark import get_spark
    from scholarmind_spark.operators.semdedup import semdedup
    from scholarmind_spark.operators.similarity import IVF_CENTROID_IDS
    from scholarmind_spark.util import release_caches

    spark = get_spark(app_name="semdedup-probe")

    def run(df, cents) -> None:
        out = semdedup(df, cents, threshold=THRESHOLD)
        out.write.mode("overwrite").format("noop").save()
        release_caches(out)

    def cand_pairs(df, cents) -> int:
        """Unordered candidate-pair count Σ s·(s−1)/2 over cell sizes —
        the quantity the fixed-k series grows quadratically; measured
        (not inferred) so the table can show it even where wall time is
        still fixed-cost-dominated."""
        out = semdedup(df, cents, threshold=THRESHOLD)
        n = (
            out.groupBy("cell")
            .count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
            .first()[0]
        )
        release_caches(out)
        return int(n)

    # untimed warmup: the first Spark action of a session carries ~2.5 s
    # of codegen/shuffle setup that otherwise lands inside the first
    # measured series (observed: identical c=1 work read 5.2 s first vs
    # 2.7 s second)
    e0 = replicated_embeddings(spark, sf_dir, 1)
    run(
        e0,
        e0.filter(F.col("vec_id").isin(list(IVF_CENTROID_IDS))).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        ),
    )

    medians: dict[str, dict[int, float]] = {"fixed_k": {}, "scaled_k": {}}
    pairs: dict[str, dict[int, int]] = {"fixed_k": {}, "scaled_k": {}}
    for c in KS:
        df = replicated_embeddings(spark, sf_dir, c).persist()
        n = df.count()
        base_ids = [i for i in IVF_CENTROID_IDS]
        fixed_cents = df.filter(F.col("vec_id").isin(base_ids)).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )
        scaled_ids = [i + r * 10_000_000 for r in range(c) for i in base_ids]
        scaled_cents = df.filter(F.col("vec_id").isin(scaled_ids)).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )
        for name, cents in (("fixed_k", fixed_cents), ("scaled_k", scaled_cents)):
            per = []
            for _ in range(REPS):
                t0 = time.time()
                run(df, cents)
                per.append(time.time() - t0)
                spark.catalog.clearCache()
                df.persist()
                df.count()
            per.sort()
            medians[name][c] = per[len(per) // 2]
            pairs[name][c] = cand_pairs(df, cents)
            print(
                f"# c={c} n={n} {name} ({16 if name == 'fixed_k' else 16 * c}"
                f" cells): median {medians[name][c]:.2f}s of"
                f" {[round(p, 2) for p in per]};"
                f" candidate pairs {pairs[name][c]}",
                file=sys.stderr,
            )
        df.unpersist()

    print(
        "| series | 1x med | 4x med | 8x med | fixed a | slope b ± se"
        " | pairs 1x/4x/8x |"
    )
    print("|---|---|---|---|---|---|---|")
    for name, by_k in medians.items():
        xs = list(KS)
        ys = [by_k[k] for k in KS]
        n = len(xs)
        mx, my = sum(xs) / n, sum(ys) / n
        sxx = sum((x - mx) ** 2 for x in xs)
        b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
        a = my - b * mx
        resid = [y - (a + b * x) for x, y in zip(xs, ys)]
        se = (sum(r * r for r in resid) / (n - 2) / sxx) ** 0.5
        pr = pairs[name]
        print(
            f"| semdedup {name} | {by_k[1]:.1f}s | {by_k[4]:.1f}s | {by_k[8]:.1f}s "
            f"| {a:.1f}s | {b:.2f} ± {se:.2f} s/unit "
            f"| {pr[1]:,}/{pr[4]:,}/{pr[8]:,} |"
        )


def cap_probe() -> None:
    """Grouped-Lloyd level-cost certification: ONE cap_cells level over a
    FIXED corpus whose oversized-cell COUNT varies 2/8/32 (codebook =
    the C hash-smallest vec_ids, so every cell is over the cap at every
    C).  The claim under test — the splitter is one (cell, sub)-keyed
    k-means, so a level's cost does not scale with how many cells are
    over capacity — holds iff the wall time stays flat in C.

    Usage: python tools/semdedup_probe.py cap [sf_dir]
    """
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    from pyspark.sql import functions as F

    from scholarmind_spark import get_spark
    from scholarmind_spark.operators.semdedup import cap_cells
    from scholarmind_spark.util import release_caches

    spark = get_spark(app_name="semdedup-cap-probe")
    df = replicated_embeddings(spark, sf_dir, 8).persist()
    n = df.count()

    def codebook(c: int):
        ids = [
            r["vec_id"]
            for r in df.select("vec_id")
            .orderBy(F.xxhash64("vec_id"), "vec_id")
            .limit(c)
            .collect()
        ]
        return df.filter(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )

    # warmup (the first-action codegen/shuffle setup — see main())
    warm = cap_cells(df, codebook(2), max_cell=n, max_depth=1)
    warm.count()
    release_caches(warm)

    print("| oversized cells C | rows | level med (3 reps) |")
    print("|---|---|---|")
    for c in (2, 8, 32):
        cb = codebook(c)
        per = []
        for _ in range(REPS):
            t0 = time.time()
            # max_cell = n//(4*c) forces EVERY cell over cap; depth 1
            # isolates one level's cost
            refined = cap_cells(df, cb, max_cell=max(2, n // (4 * c)), max_depth=1)
            refined.count()
            per.append(time.time() - t0)
            release_caches(refined)
        per.sort()
        print(f"| {c} | {n} | {per[len(per) // 2]:.2f}s of {[round(p, 2) for p in per]} |")
    df.unpersist()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "cap":
        cap_probe()
    else:
        main()
