"""KMV (k-minimum-values) cardinality and overlap sketches.

Engine extension (SURVEY §2 — the reference is a literature ETL tool
with no approximate-analytics surface): distinct-count and set-overlap
ESTIMATION with fixed O(k) state per set, the shape a 100 TB corpus
audit needs when the exact answer would shuffle every distinct value.
Canonical uses: vocabulary size per crawl snapshot, distinct-URL counts
per domain, and cross-corpus contamination screening (estimated token
Jaccard between a training shard and a benchmark) — all without
materializing a distinct set.

KMV (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07 "distinct sampling"):
hash every value uniformly into [0, M); keep only the k smallest DISTINCT
hashes.  If the k-th smallest is ``kth``, the density of distinct hashes
is ≈ k / kth, so

    D̂ = (k-1) · M / kth          (unbiased form; exact when n_min < k)

Two sketches of DIFFERENT sets built with the SAME hash are mergeable:
the k smallest of (A ∪ B) is a uniform distinct-sample of the union, so
counting how many of those k survivors sit in BOTH input sketches
estimates Jaccard directly (the theta-sketch intersection device,
Dasgupta et al. 2016).

Determinism across engines: the hash is the repo's 60-bit md5 device
(``neardup.minhash_base`` — 15 hex chars of md5 → bigint, identical in
Spark and DuckDB), so the k minima, the estimate, and the overlap counts
are bit-reproducible; the only float is the single final division,
evaluated in a pinned order and round()-ed on both engines.

Spark-first shape, sized for 100 TB:

- the scale path (``prefilter=True``) bounds the shuffle at O(P·k)
  rows INDEPENDENT of input size: a ``mapInPandas`` partial keeps the
  k smallest distinct hashes per partition (running numpy unique-merge
  over Arrow batches, O(k) state), and only those P·k candidates reach
  the global distinct + top-k.  This is the custom-partial-aggregate
  tier — Catalyst has no "distinct top-k" partial, and without it the
  distinct shuffle carries EVERY distinct value (the cost the sketch
  exists to avoid);
- the pure-Catalyst form (``prefilter=False``) is kept as the semantic
  definition for tests: distinct → TakeOrderedAndProject(k) — correct,
  map-side-combined, but shuffle ∝ distinct values;
- both produce the SAME k minima (the global k smallest distinct hashes
  are contained in the union of per-partition k smallest), so the
  estimate does not depend on which path ran or how rows partition.

The estimator, and every KEYED KMV sketch (per group, per day), is the
single implementation in ``operators/sketchledger``: ``kmv_state_build``
/ ``kmv_state_merge`` / ``kmv_state_estimate`` with ``keys=["grp"]`` for
a per-group sketch; :func:`kmv_distinct_report` is ``kmv_state_estimate``
over :func:`kmv_minima`.  The un-keyed minima, their merge and the
overlap report stay here: their top-k plan with the Arrow prefilter is
the O(P·k)-shuffle path the keyed window cap does not reproduce.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scholarmind_spark.operators.neardup import minhash_base, minhash_base_sql

# hash space of the 60-bit md5 device: values are uniform on [0, 2^60)
M_SPACE = 1 << 60
DEFAULT_K = 256


def _value_col(df: DataFrame, col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def kmv_minima(
    df: DataFrame,
    col: str | Column,
    k: int = DEFAULT_K,
    prefilter: bool = True,
) -> DataFrame:
    """The sketch itself: one column ``h`` holding the k smallest
    distinct 60-bit hashes of ``col`` (fewer if the set has fewer than
    k distinct values).  NULLs are not set members and are dropped."""
    if k < 2:
        raise ValueError("kmv sketches need k >= 2 (the estimator uses k-1)")
    v = _value_col(df, col)
    hashed = df.select(minhash_base(v).alias("h")).where(F.col("h").isNotNull())
    if prefilter:
        hashed = _partition_minima(hashed, k)
    return hashed.distinct().orderBy("h").limit(k)


def _partition_minima(hashed: DataFrame, k: int) -> DataFrame:
    """Per-partition k smallest DISTINCT hashes via an Arrow-batched
    running merge — emits ≤ k rows per partition, so the downstream
    global distinct shuffles O(P·k) rows regardless of input size.

    numpy.unique returns a SORTED unique array, so ``[:k]`` after a
    concat-unique is exactly "k smallest distinct seen so far"; state
    stays O(k) per partition no matter how many batches stream through.
    """
    import numpy as np
    import pandas as pd

    def part(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        best = None
        for pdf in batches:
            vals = pdf["h"].to_numpy()
            merged = vals if best is None else np.concatenate([best, vals])
            best = np.unique(merged)[:k]
        if best is not None and len(best):
            yield pd.DataFrame({"h": best})

    return hashed.mapInPandas(part, schema="h bigint")


def _estimate_expr(n_min: Column, kth: Column, k: int) -> Column:
    """D̂ as bigint: exact n_min when the set is smaller than k, else
    (k-1)·M/kth in double with a pinned evaluation order.  The numerator
    (k-1)·M is materialized as one Python float literal so both engines
    start the division from the identical IEEE value."""
    numer = float(k - 1) * float(M_SPACE)
    est = F.round(F.lit(numer) / kth.cast("double"), 0).cast("bigint")
    return F.when(n_min < k, n_min.cast("bigint")).otherwise(est)


def _estimate_sql(n_min: str, kth: str, k: int) -> str:
    numer = repr(float(k - 1) * float(M_SPACE))
    return (
        f"CASE WHEN {n_min} < {k} THEN ({n_min})::BIGINT "
        f"ELSE round({numer} / ({kth})::DOUBLE, 0)::BIGINT END"
    )


def kmv_distinct_report(
    df: DataFrame,
    col: str | Column,
    k: int = DEFAULT_K,
    prefilter: bool = True,
) -> DataFrame:
    """One row: ``k, n_minima, kth_hash, est_distinct`` — the keyed
    estimator ``sketchledger.kmv_state_estimate`` over the un-keyed
    :func:`kmv_minima` (no key columns: one global row).

    ``kth_hash`` is the largest retained minimum (= the k-th smallest
    distinct hash when the set has ≥ k members)."""
    from scholarmind_spark.operators.sketchledger import kmv_state_estimate

    est = kmv_state_estimate(kmv_minima(df, col, k, prefilter=prefilter), k)
    return est.select(F.lit(k).alias("k"), *est.columns)


def kmv_minima_sql(values_query: str, k: int = DEFAULT_K) -> str:
    """DuckDB twin of :func:`kmv_minima` over a subquery yielding one
    column ``v`` (string)."""
    h = minhash_base_sql("v")
    return (
        f"(SELECT DISTINCT {h} AS h FROM ({values_query}) "
        f"WHERE v IS NOT NULL ORDER BY h LIMIT {k})"
    )


def kmv_distinct_report_sql(values_query: str, k: int = DEFAULT_K) -> str:
    """DuckDB twin of :func:`kmv_distinct_report`."""
    est = _estimate_sql("n_minima", "kth_hash", k)
    return f"""
WITH minima AS (SELECT * FROM {kmv_minima_sql(values_query, k)}),
magg AS (SELECT count(*) AS n_minima, max(h) AS kth_hash FROM minima)
SELECT {k} AS k, n_minima, kth_hash, {est} AS est_distinct FROM magg
"""


def kmv_overlap_report(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str | Column,
    k: int = DEFAULT_K,
    prefilter: bool = True,
) -> DataFrame:
    """One row: ``k, n_union_minima, n_common, jaccard_est,
    est_union, est_intersection`` — set overlap of the two sides'
    ``col`` values from two O(k) sketches.

    The k smallest of (minima_A ∪ minima_B) IS the KMV sketch of A ∪ B
    (mergeability), and each survivor present in both input sketches is
    a uniform distinct-sample hit on the intersection, so

        Ĵ = n_common / n_union_minima,   |A∩B|^ = round(Ĵ · |A∪B|^).

    Everything after the two scans runs on ≤ 2k rows.  The two sketches
    and their union are ``persist()``-ed (each ≤ k rows; the downstream
    plan reads each 2-3 times and would otherwise re-run the FULL input
    scan + prefilter per consumer — verified 6 source scans uncached) and
    tagged via ``attach_caches`` for ``release_caches`` after the action."""
    from scholarmind_spark.util import attach_caches

    a = kmv_minima(df_a, col, k, prefilter=prefilter).persist()
    b = kmv_minima(df_b, col, k, prefilter=prefilter).persist()
    union_min = kmv_merge(a, b, k).persist()
    # survivors present in BOTH sketches: intersect the tiny frames
    common = union_min.join(a, "h", "left_semi").join(b, "h", "left_semi")
    u = union_min.agg(
        F.count("*").alias("n_union_minima"), F.max("h").alias("kth_hash")
    )
    c = common.agg(F.count("*").alias("n_common"))
    est_union = _estimate_expr(F.col("n_union_minima"), F.col("kth_hash"), k)
    jac = F.col("n_common").cast("double") / F.col("n_union_minima")
    out = (
        u.crossJoin(c)
        .select(
            F.lit(k).alias("k"),
            "n_union_minima",
            "n_common",
            F.round(jac, 4).alias("jaccard_est"),
            est_union.alias("est_union"),
            F.round(jac * est_union.cast("double"), 0)
            .cast("bigint")
            .alias("est_intersection"),
        )
    )
    return attach_caches(out, [a, b, union_min])


def kmv_overlap_report_sql(
    values_a: str, values_b: str, k: int = DEFAULT_K
) -> str:
    """DuckDB twin of :func:`kmv_overlap_report` over two subqueries each
    yielding one column ``v``."""
    est_union = _estimate_sql("n_union_minima", "kth_hash", k)
    return f"""
WITH ma AS (SELECT * FROM {kmv_minima_sql(values_a, k)}),
mb AS (SELECT * FROM {kmv_minima_sql(values_b, k)}),
umin AS (
  SELECT h FROM {kmv_merge_sql("SELECT h FROM ma", "SELECT h FROM mb", k)}
),
uagg AS (SELECT count(*) AS n_union_minima, max(h) AS kth_hash FROM umin),
cagg AS (
  SELECT count(*) AS n_common FROM umin
  WHERE h IN (SELECT h FROM ma) AND h IN (SELECT h FROM mb)
)
SELECT {k} AS k, n_union_minima, n_common,
       round(n_common::DOUBLE / n_union_minima, 4) AS jaccard_est,
       {est_union} AS est_union,
       round((n_common::DOUBLE / n_union_minima)
             * ({est_union})::DOUBLE, 0)::BIGINT AS est_intersection
FROM uagg, cagg
"""


# ---------------------------------------------------- count-min sketch
#
# Cormode & Muthukrishnan 2005: d hash rows × w counters; every value
# increments one counter per row; a point estimate is the MIN of its d
# counters.  Estimates NEVER undercount (each counter ≥ the true count)
# and overcount by at most εN with probability 1-δ for w = e/ε, d =
# ln(1/δ).  The sketch is fixed-size and mergeable (cell-wise add), so
# frequency estimation over a 100 TB stream shuffles d·w counters
# instead of the full distinct-key space — the companion to the KMV
# sketch above (KMV answers "how many distinct", CMS answers "how often
# is THIS one").
#
# Determinism AND row independence: each sketch row hashes the value
# with a ROW-SALTED md5 (md5(v || '#' || r) → 60-bit int → mod w) —
# bit-identical in the DuckDB twin, and genuinely independent across
# rows.  The first cut XOR'd one shared hash with per-row constants and
# reduced mod w: for power-of-2 widths (every practical width) that is
# only a bucket RELABELING — two keys collide in all rows or none, the
# min over d rows degenerates to a single row's estimate, and depth
# buys nothing (caught in review; the salted form costs d md5s per
# value, which the explode pays anyway).

_CMS_MAX_DEPTH = 8


def _cms_check(width: int, depth: int) -> None:
    # width <= 0 would make the bucket expression a modulo-by-zero,
    # which non-ANSI Spark evaluates to NULL buckets — a silently
    # empty/corrupt sketch.  Fail loudly like the depth check instead.
    if not 1 <= depth <= _CMS_MAX_DEPTH:
        raise ValueError(f"depth must be in 1..{_CMS_MAX_DEPTH}")
    if width < 1:
        raise ValueError("width must be >= 1")


def _cms_bucket(v: Column, r: int, width: int) -> Column:
    return minhash_base(F.concat(v, F.lit(f"#{r}"))) % width


def _cms_bucket_sql(v: str, r: int, width: int) -> str:
    salted = f"(({v}) || '#{r}')"
    return f"({minhash_base_sql(salted)} % {width})"


def cms_build(
    df: DataFrame, col: str | Column, width: int = 1024, depth: int = 4
) -> DataFrame:
    """The sketch as rows ``(row, bucket, cnt)`` — at most depth·width
    cells regardless of input size.  One explode to depth rows per
    value, one map-side-combined groupBy; absent cells mean 0."""
    _cms_check(width, depth)
    v = _value_col(df, col)
    vals = df.select(v.cast("string").alias("v")).where(F.col("v").isNotNull())
    cells = vals.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cms_bucket(F.col("v"), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb")
    )
    return cells.groupBy("rb.row", "rb.bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_estimate(
    cells: DataFrame,
    keys: DataFrame,
    col: str | Column,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """``key, cms_est`` for every row of ``keys`` — min over the d
    looked-up counters (0 when a cell is absent).  The sketch side is
    tiny (≤ d·w cells) and broadcast.

    ``width``/``depth`` MUST equal the build-time parameters: a
    mismatched probe addresses cells the build never wrote, the left
    join coalesces them to 0, and min() collapses every estimate to 0 —
    a total undercount from a sketch whose contract is one-sided error.
    The parameters are validated for range here exactly as in
    :func:`cms_build`; carrying them alongside the cells is the
    caller's job (they are two ints — store them next to the sketch).
    NULL keys are dropped (not set members, same as :func:`cms_build`)."""
    _cms_check(width, depth)
    v = _value_col(keys, col)
    probes = (
        keys.select(v.cast("string").alias("key"))
        .where(F.col("key").isNotNull())
        .distinct()
    )
    expanded = probes.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cms_bucket(F.col("key"), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("key", "rb.row", "rb.bucket")
    joined = expanded.join(F.broadcast(cells), ["row", "bucket"], "left")
    return (
        joined.groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


def cms_build_sql(values_query: str, width: int = 1024, depth: int = 4) -> str:
    """DuckDB twin of :func:`cms_build` over a subquery yielding ``v``."""
    _cms_check(width, depth)
    rows = " UNION ALL ".join(
        f"SELECT {r} AS row, {_cms_bucket_sql('v', r, width)} AS bucket"
        f" FROM vals"
        for r in range(depth)
    )
    return f"""
WITH vals AS (SELECT v::VARCHAR AS v FROM ({values_query}) WHERE v IS NOT NULL),
cells0 AS ({rows})
SELECT row, bucket, count(*)::BIGINT AS cnt
FROM cells0 GROUP BY row, bucket
"""


def cms_estimate_sql(
    cells_query: str,
    keys_query: str,
    width: int = 1024,
    depth: int = 4,
) -> str:
    """DuckDB twin of :func:`cms_estimate` — ``keys_query`` yields ``v``."""
    _cms_check(width, depth)
    probes = " UNION ALL ".join(
        f"SELECT key, {r} AS row, {_cms_bucket_sql('key', r, width)}"
        f" AS bucket FROM probes"
        for r in range(depth)
    )
    return f"""
WITH cells AS MATERIALIZED ({cells_query}),
probes AS (SELECT DISTINCT v::VARCHAR AS key FROM ({keys_query}) WHERE v IS NOT NULL),
expanded AS ({probes})
SELECT e.key, min(coalesce(c.cnt, 0))::BIGINT AS cms_est
FROM expanded e LEFT JOIN cells c ON e.row = c.row AND e.bucket = c.bucket
GROUP BY e.key
"""


def cms_join_size_estimate(
    cells_a: DataFrame, cells_b: DataFrame
) -> DataFrame:
    """One row ``est_join_size`` — the CM inner-product estimate of
    |A ⋈ B| on the sketched key (Cormode & Muthukrishnan §4.2): per
    sketch row, Σ_buckets cntA·cntB ≥ the true join size (every true
    key pair lands in the same cell; collisions only ADD), so the MIN
    over the d rows is a one-sided upper bound that tightens with
    width.  This is the classic planner use: predict a join's output
    size from two O(d·w) sketches WITHOUT running the join — at 100 TB
    the sketches are built map-side in one pass each and the estimate
    itself joins d·w cells against d·w cells.

    Both sketches MUST be built with the same width/depth (see
    :func:`cms_estimate`'s parameter warning).  The min must range over
    ALL d rows — a sketch row with NO colliding cells has dot 0 (the
    tightest possible bound), and an inner-join-only min that dropped
    such rows would return a positive estimate for a provably-empty
    join.  The row count d is INFERRED from the sketches themselves
    (max row id + 1 — every build row writes ≥ 1 cell for non-empty
    input): a caller-supplied depth that disagreed with the build
    silently hard-zeroed every estimate (caught in review, twice — the
    parameter is gone)."""
    a = cells_a.select(
        F.col("row"), F.col("bucket"), F.col("cnt").alias("cnt_a")
    )
    b = cells_b.select(
        F.col("row"), F.col("bucket"), F.col("cnt").alias("cnt_b")
    )
    per_row = (
        a.join(b, ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("dot"))
    )
    # min over ALL d rows: if any of the d rows is absent from the
    # inner join its dot is 0 and the estimate is 0.  d = max row id
    # over BOTH sketches + 1 (an empty sketch means an empty side and
    # the 0 estimate is exact).
    d = (
        a.select(F.col("row"))
        .unionAll(b.select(F.col("row")))
        .agg((F.coalesce(F.max("row"), F.lit(-1)) + 1).alias("__d"))
    )
    return (
        per_row.agg(
            F.count(F.lit(1)).alias("__present"),
            F.min("dot").alias("__min_dot"),
        )
        .crossJoin(F.broadcast(d))
        .select(
            F.when(F.col("__present") < F.col("__d"), F.lit(0))
            .otherwise(F.col("__min_dot"))
            .cast("bigint")
            .alias("est_join_size")
        )
    )


def cms_join_size_estimate_sql(
    cells_a_query: str, cells_b_query: str
) -> str:
    """DuckDB twin of :func:`cms_join_size_estimate` — same
    min-over-ALL-rows semantics with d inferred from the sketches."""
    return f"""
WITH ca AS MATERIALIZED ({cells_a_query}),
cb AS MATERIALIZED ({cells_b_query}),
per_row AS (
  SELECT ca.row, sum(ca.cnt * cb.cnt)::BIGINT AS dot
  FROM ca JOIN cb ON ca.row = cb.row AND ca.bucket = cb.bucket
  GROUP BY ca.row
),
d AS (
  SELECT coalesce(max(row), -1) + 1 AS __d FROM
  (SELECT row FROM ca UNION ALL SELECT row FROM cb)
)
SELECT CASE WHEN (SELECT count(*) FROM per_row) < (SELECT __d FROM d)
            THEN 0
            ELSE (SELECT min(dot) FROM per_row) END::BIGINT
         AS est_join_size
"""


# ------------------------------------------------------- mergeability
#
# Both sketches here are MERGEABLE — the property that makes them the
# incremental-maintenance primitives at 100 TB: keep one small sketch
# per ingest batch / partition / day, fold them pairwise, and the
# merged sketch is EXACTLY the sketch of the concatenated data (not an
# approximation of it).  Re-sketching the full corpus per batch is
# never needed.


def kmv_merge(minima_a: DataFrame, minima_b: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """KMV(A ∪ B) from the two sketches alone: the k smallest of the
    combined minima (distinct hashes; both built with the same hash).

    ``k`` MUST be ≤ the smallest build-time k of the inputs (the CMS
    width/depth trap's KMV sibling): a larger k cannot see past the
    inputs' truncation horizon, so the merged sketch holds at most
    k_a + k_b minima, the estimator takes its "fewer than k distinct"
    EXACT branch, and a set of millions silently reports as ~k_a + k_b.
    The frames don't carry their build k, so this is a documented
    caller contract — store k next to the sketch like width/depth."""
    if k < 2:
        raise ValueError("kmv sketches need k >= 2")
    return (
        minima_a.unionByName(minima_b).distinct().orderBy("h").limit(k)
    )


def kmv_merge_sql(minima_a_query: str, minima_b_query: str, k: int = DEFAULT_K) -> str:
    """DuckDB twin of :func:`kmv_merge`."""
    return (
        f"(SELECT h FROM (SELECT h FROM ({minima_a_query}) "
        f"UNION SELECT h FROM ({minima_b_query})) ORDER BY h LIMIT {k})"
    )


def cms_merge(cells_a: DataFrame, cells_b: DataFrame) -> DataFrame:
    """CMS(A ⊎ B) from the two cell tables: cell-wise count addition
    (full outer on the cell address; both built with the same
    width/depth)."""
    a = cells_a.select("row", "bucket", F.col("cnt").alias("__ca"))
    b = cells_b.select("row", "bucket", F.col("cnt").alias("__cb"))
    return (
        a.join(b, ["row", "bucket"], "full_outer")
        .select(
            "row",
            "bucket",
            (
                F.coalesce(F.col("__ca"), F.lit(0))
                + F.coalesce(F.col("__cb"), F.lit(0))
            ).alias("cnt"),
        )
    )


def cms_merge_sql(cells_a_query: str, cells_b_query: str) -> str:
    """DuckDB twin of :func:`cms_merge`."""
    return f"""
SELECT coalesce(a.row, b.row) AS row,
       coalesce(a.bucket, b.bucket) AS bucket,
       (coalesce(a.cnt, 0) + coalesce(b.cnt, 0))::BIGINT AS cnt
FROM ({cells_a_query}) a
FULL OUTER JOIN ({cells_b_query}) b
  ON a.row = b.row AND a.bucket = b.bucket
"""


# ------------------------------------------------ per-group KMV distinct
#
# The grouped form of the KMV sketch above: "distinct users per
# segment", "distinct URLs per domain", "vocabulary per source" at
# 100 TB, where an exact count-distinct per group shuffles every
# distinct (group, value) pair AND a hot group's distinct set lands on
# one reducer.  Keeping only the k smallest distinct hashes PER GROUP
# bounds both: the shuffle carries ≤ k rows per group after the
# map-side-combined distinct, and the estimator runs on k-row groups.
# The Spark side is the keyed ``sketchledger`` pair with ``keys=["grp"]``.


def kmv_distinct_by_group_sql(
    pairs_query: str, k: int = DEFAULT_K
) -> str:
    """DuckDB twin of ``kmv_state_estimate(kmv_state_build(df,
    ["grp"], "v", k), k)`` over a subquery yielding ``grp, v``."""
    if k < 2:
        raise ValueError("kmv sketches need k >= 2 (the estimator uses k-1)")
    h = minhash_base_sql("v")
    est = _estimate_sql("n_minima", "kth_hash", k)
    return f"""
(WITH pairs AS (
   SELECT DISTINCT grp::VARCHAR AS grp, {h} AS h
   FROM ({pairs_query}) WHERE v IS NOT NULL
 ),
 minima AS (
   SELECT grp, h FROM (
     SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
     FROM pairs
   ) WHERE rn <= {k}
 ),
 agg AS (
   SELECT grp, count(*)::BIGINT AS n_minima, max(h) AS kth_hash
   FROM minima GROUP BY grp
 )
 SELECT grp, n_minima, kth_hash, {est} AS est_distinct FROM agg)"""
