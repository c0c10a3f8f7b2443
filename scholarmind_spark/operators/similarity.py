"""Similarity search over embedding columns (engine extension).

Brute-force cosine top-k is the exact baseline: broadcast the (small) query
set, compute dot/norms with built-in higher-order functions (JVM-side,
no Python), rank with one window per query.  Cost is |queries| × N — at
100 TB you bound |queries| per job and partition N; the scale path is the
LSH-bucketed variant (random-hyperplane signs over the same portable
md5-derived planes) which joins on bucket instead of cross-product.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


@F.pandas_udf(DoubleType())
def _dot_pairs_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized pair dot product, BIT-IDENTICAL to :func:`_dot`.

    The JVM HOF form is the right shape for per-ROW quantities (norms,
    one reference angle), but a verify join evaluates the interpreted
    zip_with+aggregate once per CANDIDATE PAIR — measured 1.56 s for the
    252k-pair embedding near-dup verify at sf0.1, vs 0.86 s through this
    batch path (guide §4.2: hand whole batches to vectorized native code).

    Exactness argument (why this does NOT repeat the rejected
    numpy-matmul variant): float32→float64 casts are exact; the
    elementwise float64 product is the same single IEEE multiply the JVM
    performs; and ``cumsum`` along the row is a strictly SEQUENTIAL
    left-to-right float64 accumulation — the same op order as the HOF's
    fold — with a leading 0.0 column reproducing the fold's ``0.0 + p0``
    first step (matters only for the sign of an all-zero sum).  A matmul
    / pairwise ``sum`` would reassociate the adds; cumsum cannot.
    Verified EXACT-EQUAL against the HOF on the full sf0.1 candidate set.

    Contract: fixed-dimension, non-null vectors (``np.stack`` raises on
    ragged input rather than silently padding)."""
    import numpy as np

    if len(a) == 0:
        return pd.Series([], dtype="float64")
    va = np.stack(a.to_numpy()).astype("float64")
    vb = np.stack(b.to_numpy()).astype("float64")
    prod = va * vb
    lead = np.zeros((len(va), 1))
    return pd.Series(np.cumsum(np.column_stack([lead, prod]), axis=1)[:, -1])


def _dot(a, b):
    """Dot product via higher-order functions (interpreted, JVM-side).

    MEASURED trade-off (sf0.1, local[32]): replacing this with a flat
    64-term multiply-add chain (codegen-able, bit-equal accumulation)
    made every similarity query SLOWER — ann_ivf 2.3s→4.0s, embedding
    near-dup 3.5s→4.8s warm — because the 64-term trees blow up Catalyst
    optimization time, task-binary size (~1.2 MB), and per-stage janino
    compiles, which dominate the interpreted per-element cost at these
    candidate volumes.  The HOF form keeps plans small; revisit only if a
    profile shows the verify stage's per-pair cost dominating end-to-end."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def rank_topk(
    scored: DataFrame, score: str, k: int, out: str, descending: bool = False
) -> DataFrame:
    """The ANN family's one top-k step: ``(query_id, neighbor_id,
    <score>)`` rows → ``query_id, neighbor_id, <out>, rank``.  One
    window per query ordered by the score (ascending distances,
    ``descending`` similarities), equal scores broken by the LOWER
    ``neighbor_id`` — the ``ORDER BY score, neighbor_id`` every SQL twin
    spells — keeping ``rank <= k`` and emitting ``round(score, 6)``.
    Candidate dedup stays with the caller."""
    order = F.desc(score) if descending else F.asc(score)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round(score, 6).alias(out), "rank")
    )


def cosine_topk(
    df: DataFrame,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns ``query_id, neighbor_id, cosine (rounded 6), rank``; excludes
    self-matches when ids coincide.  Ties broken by neighbor id for
    determinism."""
    # Norms are per-row/per-query quantities: compute each ONCE before the
    # join instead of once per (row × query) pair.  sqrt(Σx²) is evaluated
    # with identical float ops either way, so results are bit-equal — this
    # only removes |queries|-fold redundant interpreted HOF work.
    # zero-norm vectors have no direction: cosine would be 0/0 = NaN, and
    # NaN sorts GREATEST in both engines, so a single all-zeros embedding
    # would rank as the #1 neighbor of every query — exclude them up front
    # (mirrored in every SQL twin)
    d = df.withColumn("__nv", _norm(F.col(vec_col))).filter(F.col("__nv") > 0)
    q = queries_df.withColumn("__nq", _norm(F.col(query_vec_col))).filter(
        F.col("__nq") > 0
    )
    joined = d.crossJoin(F.broadcast(q))
    scored = joined.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        (
            _dot(F.col(vec_col), F.col(query_vec_col))
            / (F.col("__nv") * F.col("__nq"))
        ).alias("cos_raw"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return rank_topk(scored, "cos_raw", k, "cosine", descending=True)


def cosine_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    k: int = 10,
) -> str:
    """DuckDB twin: same double-precision sequential dot/norm (explicit
    list_sum over products rather than list_cosine_similarity, so both
    engines accumulate in the same order and round identically)."""
    if not query_ids:
        raise ValueError("query_ids must be a non-empty list (IN () is not SQL)")
    ids = ", ".join(str(i) for i in query_ids)
    dot = (
        f"list_sum(list_transform(list_zip(e.{vec_col}, q.{vec_col}),"
        f" p -> p[1]::DOUBLE * p[2]::DOUBLE))"
    )
    norm_e = f"sqrt(list_sum(list_transform(e.{vec_col}, x -> x::DOUBLE * x::DOUBLE)))"
    norm_q = f"sqrt(list_sum(list_transform(q.{vec_col}, x -> x::DOUBLE * x::DOUBLE)))"
    return f"""
WITH q AS (
  SELECT {id_col} AS query_id, {vec_col} FROM {table}
  WHERE {id_col} IN ({ids})
    AND list_sum(list_transform({vec_col}, x -> x::DOUBLE * x::DOUBLE)) > 0
),
scored AS (
  SELECT q.query_id, e.{id_col} AS neighbor_id,
         {dot} / ({norm_e} * {norm_q}) AS cos_raw
  FROM {table} e, q
  WHERE e.{id_col} <> q.query_id
    AND list_sum(list_transform(e.{vec_col}, x -> x::DOUBLE * x::DOUBLE)) > 0
),
ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


def _plane_signs(planes: int, dim: int) -> list[list[float]]:
    """±1 random-hyperplane coefficients, md5-derived — deterministic and
    portable, so the DuckDB oracle uses the SAME constants (generated once
    here, inlined as literals on both sides)."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:8], 16) % 2 else -1.0
            for i in range(dim)
        ]
        for p in range(planes)
    ]


# ---- multi-table LSH: L independent tables of b planes each.  A single
# b-plane table needs ALL b bits to agree — P(hit) = p^b, tiny for modest
# neighbor angles (measured recall@10 ≈ 0.01 with one 8-plane table on the
# sf0.1 embeddings).  With L tables a neighbor is found if ANY table
# agrees: P = 1 - (1-p^b)^L, while candidate volume stays L × n/2^b.

LSH_TABLES = 8
LSH_PLANES = 6


def lsh_buckets_multi(
    vec_expr: str, tables: int = LSH_TABLES, planes: int = LSH_PLANES, dim: int = 64
):
    """Array of per-table bucket keys ``"<t>|<bits>"``; table ``t`` uses
    plane block ``[t*planes, (t+1)*planes)`` of the shared derived planes.

    ``vec_expr`` is a Spark SQL expression string (a column name), not a
    Column: the whole bucket array is emitted as ONE SQL string parsed by a
    single ``F.expr`` call.  Building the same tree with Column operators
    costs ~5 s of py4j round-trips (48 aggregates × 64 literals, one JVM
    call each); one parse of the equivalent SQL is ~0.1 s.  The HOF form is
    kept for EXECUTION because the interpreted aggregate loops a tiny
    lambda over the array — a flat 3 072-term Add chain overflows janino's
    64 KB method limit and its interpreted fallback is ~7× slower."""
    all_signs = _plane_signs(tables * planes, dim)
    buckets = []
    for t in range(tables):
        parts = []
        for p in range(planes):
            coeffs = all_signs[t * planes + p]
            arr = ", ".join(f"{c:.1f}D" for c in coeffs)
            proj = (
                f"aggregate(zip_with({vec_expr}, array({arr}),"
                f" (x, c) -> CAST(x AS DOUBLE) * c),"
                f" 0.0D, (acc, v) -> acc + v)"
            )
            parts.append(f"(CASE WHEN {proj} > 0.0D THEN {1 << p}L ELSE 0L END)")
        bits = "CAST(" + " + ".join(parts) + " AS BIGINT)"
        buckets.append(f"concat('{t}', '|', CAST({bits} AS STRING))")
    return F.expr("array(" + ", ".join(buckets) + ")")


def lsh_buckets_multi_sql(
    vec_expr: str, tables: int = LSH_TABLES, planes: int = LSH_PLANES, dim: int = 64
) -> str:
    all_signs = _plane_signs(tables * planes, dim)
    buckets = []
    for t in range(tables):
        parts = []
        for p in range(planes):
            coeffs = all_signs[t * planes + p]
            terms = " + ".join(
                f"{vec_expr}[{i + 1}]::DOUBLE * ({c:.1f})" for i, c in enumerate(coeffs)
            )
            parts.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << p} ELSE 0 END)")
        buckets.append(f"('{t}|' || (({' + '.join(parts)})::BIGINT)::VARCHAR)")
    return "[" + ", ".join(buckets) + "]"


def ann_lsh_topk(
    df: DataFrame,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    tables: int = LSH_TABLES,
    planes: int = LSH_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via multi-table LSH: a candidate shares ANY of the
    L per-table buckets with the query, then exact cosine ranks within
    candidates.  L tables of b planes lift recall from p^b to
    1-(1-p^b)^L (recall@10 0.01 → 0.37 at 8×6 on sf0.1, measured in
    round 4) while the join stays a bucket equi-join — the 100 TB path.
    A pair found by several tables is collapsed by the (query, neighbor)
    groupBy before ranking."""
    d = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__nv"),
        F.explode(lsh_buckets_multi(vec_col, tables, planes, dim)).alias("__bucket"),
    ).filter(F.col("__nv") > 0)  # zero-norm guard — see cosine_topk
    q = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qv"),
        _norm(F.col(query_vec_col)).alias("__nq"),
        F.explode(
            lsh_buckets_multi(query_vec_col, tables, planes, dim)
        ).alias("__bucket"),
    ).filter(F.col("__nq") > 0)
    joined = d.join(F.broadcast(q), on="__bucket")
    scored = (
        joined.filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            # identical for every duplicate hit — max is just the dedup
            F.max(
                _dot(F.col("__v"), F.col("__qv")) / (F.col("__nv") * F.col("__nq"))
            ).alias("cos_raw")
        )
    )
    return rank_topk(scored, "cos_raw", k, "cosine", descending=True)


def derive_planes(
    n_vectors: int,
    floor: int = LSH_PLANES,
    target_bucket_rows: int = 32,
) -> int:
    """Plane count that keeps the EXPECTED bucket size constant as the
    corpus grows: with ``b`` planes a table hashes into ``2^b`` buckets,
    so candidate volume per table is ~``Σ size² ≈ (n/2^b)·n``; holding
    ``n/2^b ≈ target_bucket_rows`` makes that ``target·n`` — linear in
    the corpus — hence ``b = ceil(log2(n / target))``, floored at the
    small-corpus default.  This is the round-5 "planes ∝ log₂(n)" rule as
    the default instead of a manual knob (the x10 probe previously grew
    5.5× on a fixed 2^6 bucket space).  Per-pair recall at a given
    cosine decays as ``p^b`` per table, so a production corpus that
    pushes ``b`` well past the default should raise ``tables`` too
    (recall = 1-(1-p^b)^L)."""
    import math

    n = max(2, int(n_vectors))
    return max(floor, math.ceil(math.log2(max(2, n // max(1, target_bucket_rows)))))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    tables: int = LSH_TABLES,
    planes: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates share an LSH
    bucket (one shuffle on the bucket id — never an O(n²) cross-product),
    then exact cosine ≥ threshold within the bucket.

    At 100 TB the bucket join is the only viable shape: candidate volume
    scales with Σ bucket_size², tunable via ``tables × planes``.  Recall
    < 1 by construction (a pair no table co-buckets is missed; L tables
    make that exponentially unlikely) — the oracle mirrors the identical
    bucketing, so results stay exact.

    Two prunes keep the exact verify off the hot path:

    - **Angle-band prefilter**: per row, precompute the angle θ to one
      fixed reference direction.  On the unit sphere the triangle
      inequality gives |θ_a − θ_b| ≤ arccos(cos(a,b)), so any pair with
      ``|θ_a − θ_b| > arccos(threshold) + ε`` cannot reach the threshold
      and is dropped on a ONE-subtraction scalar test before the d-dim
      dot product.  Sound (ε absorbs float error), so the result set is
      unchanged and the DuckDB oracle needs no mirror of it.
    - **Verify once per pair**: co-bucket hits are deduplicated to
      DISTINCT (id_a, id_b) BEFORE the vectors are re-joined and the
      exact cosine is computed — with L tables a near-dup pair collides
      in up to L buckets, and computing the d-dim dot per HIT did up to
      L× the work the pair needs.

    ``planes=None`` (the default) self-scales the bucket space to the
    corpus: one ``approx_count_distinct`` scan at plan-build time feeds
    :func:`derive_planes`, so candidate volume stays linear in ``n``
    instead of growing ``n²/2^b`` on a fixed bucket count.  Pass an
    explicit int to pin the bucket space (required when an external twin
    — e.g. a static oracle SQL string — must hash identically).

    Returns ``id_a, id_b, cosine`` (rounded 6)."""
    import math

    if planes is None:
        n_vectors = df.select(
            F.approx_count_distinct(id_col).alias("n")
        ).first()["n"]
        planes = derive_planes(n_vectors)

    # fixed deterministic reference direction (first hyperplane, unit-norm)
    u = [c / math.sqrt(dim) for c in _plane_signs(1, dim)[0]]
    uvec = F.array(*[F.lit(float(c)) for c in u])
    # Pre-cast the (float) embedding to array<double> ONCE per row before
    # the 48 per-table hyperplane aggregates: each interpreted HOF
    # otherwise pays a per-element CAST(x AS DOUBLE) per plane —
    # SimplifyCasts drops the now-trivial inner casts, same IEEE ops in
    # the same order, bit-identical buckets (guide §4.1; the r15-recorded
    # variant (a), measured 0.73→0.62 s on the isolated bucket projection).
    dcast = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__e"),
    )
    theta = F.acos(
        F.least(
            F.greatest(_dot(F.col("__e"), uvec) / _norm(F.col("__e")), F.lit(-1.0)),
            F.lit(1.0),
        )
    )
    band = math.acos(max(-1.0, min(1.0, threshold))) + 1e-6

    from scholarmind_spark.util import attach_caches as _attach_caches

    # persist: the self-join references the bucket table TWICE, and the 48
    # hyperplane projections per row are the expensive part of building it
    b = dcast.select(
        F.col(id_col).alias("id"),
        theta.alias("th"),  # once per row, not per pair
        F.explode(lsh_buckets_multi("__e", tables, planes, dim)).alias("bucket"),
    ).persist()
    cand = (
        b.alias("l")
        .join(b.alias("r"), on="bucket")
        .filter(F.col("l.id") < F.col("r.id"))
        .filter(F.abs(F.col("l.th") - F.col("r.th")) <= band)
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    # the vector side of the verify join is one row per corpus vector; it
    # SCALES WITH THE CORPUS, so no forced broadcast — AQE broadcasts it at
    # small SF and shuffle-joins on id at 100 TB, both correct
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        _norm(F.col(vec_col)).alias("__na"),
    ).filter(F.col("__na") > 0)  # zero-norm guard — see cosine_topk
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        _norm(F.col(vec_col)).alias("__nb"),
    ).filter(F.col("__nb") > 0)
    # per-PAIR dot: the Arrow batch path (bit-identical to _dot — see
    # _dot_pairs_arrow; measured 1.56 → 0.86 s on the 252k sf0.1
    # candidate pairs).  This copy is marked nondeterministic so the
    # optimizer cannot inline cos_raw into the threshold filter: a
    # deterministic one is evaluated twice, once under the filter and
    # once in the projection (two ArrowEvalPython nodes).
    dot_once = F.pandas_udf(_dot_pairs_arrow.func, DoubleType()).asNondeterministic()
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos_raw",
            dot_once(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        )
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cosine"))
    )
    return _attach_caches(out, [b])


def embedding_neardup_pairs_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    tables: int = LSH_TABLES,
    planes: int = LSH_PLANES,
    dim: int = 64,
) -> str:
    buckets = lsh_buckets_multi_sql(vec_col, tables, planes, dim)
    dot = (
        f"list_sum(list_transform(list_zip(l.{vec_col}, r.{vec_col}),"
        f" p -> p[1]::DOUBLE * p[2]::DOUBLE))"
    )
    norm_l = f"sqrt(list_sum(list_transform(l.{vec_col}, x -> x::DOUBLE * x::DOUBLE)))"
    norm_r = f"sqrt(list_sum(list_transform(r.{vec_col}, x -> x::DOUBLE * x::DOUBLE)))"
    return f"""
WITH b AS (
  SELECT {id_col}, {vec_col}, unnest({buckets}) AS bucket FROM {table}
  WHERE list_sum(list_transform({vec_col}, x -> x::DOUBLE * x::DOUBLE)) > 0
),
cand AS (
  SELECT DISTINCT l.{id_col} AS id_a, r.{id_col} AS id_b
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.{id_col} < r.{id_col}
)
SELECT id_a, id_b,
       round({dot} / ({norm_l} * {norm_r}), 6) AS cosine
FROM cand
JOIN {table} l ON l.{id_col} = id_a
JOIN {table} r ON r.{id_col} = id_b
WHERE {dot} / ({norm_l} * {norm_r}) >= {threshold}
  AND list_sum(list_transform(l.{vec_col}, x -> x::DOUBLE * x::DOUBLE)) > 0
  AND list_sum(list_transform(r.{vec_col}, x -> x::DOUBLE * x::DOUBLE)) > 0
"""


def ann_lsh_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    k: int = 10,
    tables: int = LSH_TABLES,
    planes: int = LSH_PLANES,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`ann_lsh_topk` (same multi-table buckets,
    distinct candidates, same ranking)."""
    if not query_ids:
        raise ValueError("query_ids must be a non-empty list (IN () is not SQL)")
    ids = ", ".join(str(i) for i in query_ids)
    buckets = lsh_buckets_multi_sql(vec_col, tables, planes, dim)
    dot = (
        f"list_sum(list_transform(list_zip(e.{vec_col}, q.{vec_col}),"
        f" p -> p[1]::DOUBLE * p[2]::DOUBLE))"
    )
    norm_e = f"sqrt(list_sum(list_transform(e.{vec_col}, x -> x::DOUBLE * x::DOUBLE)))"
    norm_q = f"sqrt(list_sum(list_transform(q.{vec_col}, x -> x::DOUBLE * x::DOUBLE)))"
    return f"""
WITH b AS (
  SELECT {id_col}, {vec_col}, unnest({buckets}) AS bucket FROM {table}
  WHERE list_sum(list_transform({vec_col}, x -> x::DOUBLE * x::DOUBLE)) > 0
),
qb AS (
  SELECT {id_col} AS query_id, bucket FROM b WHERE {id_col} IN ({ids})
),
cand AS (
  SELECT DISTINCT qb.query_id, e.{id_col} AS neighbor_id
  FROM b e JOIN qb ON e.bucket = qb.bucket
  WHERE e.{id_col} <> qb.query_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {dot} / ({norm_e} * {norm_q}) AS cos_raw
  FROM cand
  JOIN {table} e ON e.{id_col} = cand.neighbor_id
  JOIN {table} q ON q.{id_col} = cand.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


IVF_CENTROID_IDS = list(range(10, 26))  # 16 deterministic centroids
IVF_NPROBE = 2


def ivf_topk(
    df: DataFrame,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    centroid_ids: list[int] | None = None,
    nprobe: int = IVF_NPROBE,
    centroids_df: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize every vector to its nearest
    centroid cell, probe the query's ``nprobe`` nearest cells, exact-rank
    within the probed candidates.

    The default centroid set is a deterministic subset of the corpus
    (fixed ids) so the DuckDB oracle reproduces the identical cells; pass
    ``centroids_df`` (``cid, cvec`` — e.g. a codebook trained by
    ``operators.kmeans.kmeans_fit``) for the production path.  The plan
    shape is identical either way.

    Scale: centroids broadcast (K rows); assignment is one map-side
    cross-product with K + a groupBy(id) lexicographic max (partial agg —
    the shuffle carries one row per vector); the probe join shuffles on
    cell id, never O(n²).  Assignment ties break to the HIGHER centroid id
    (struct max), mirrored exactly in the SQL twin."""
    # Precompute every vector/centroid norm once (a per-row quantity) so
    # the K-way assignment cross-product and the final scoring evaluate
    # only the dot-product HOF per pair.  Same float ops in the same order
    # → bit-identical cosines; the norms just stop being recomputed K×.
    if centroids_df is not None:
        centroids = F.broadcast(
            centroids_df.select(
                "cid", "cvec", _norm(F.col("cvec")).alias("__nc")
            )
        )
    else:
        centroid_ids = centroid_ids or IVF_CENTROID_IDS
        cents = queries_df.sparkSession.createDataFrame(
            [(i,) for i in centroid_ids], ["cid"]
        )
        centroids = F.broadcast(
            df.join(F.broadcast(cents), F.col(id_col) == F.col("cid"))
            .select(
                "cid",
                F.col(vec_col).alias("cvec"),
                _norm(F.col(vec_col)).alias("__nc"),
            )
        )

    def assign(side: DataFrame, sid: str, svec: str, n: int, nrm: str) -> DataFrame:
        side = side.withColumn(nrm, _norm(F.col(svec))).filter(
            F.col(nrm) > 0  # zero-norm guard — see cosine_topk
        )
        scored = side.crossJoin(centroids).select(
            F.col(sid),
            F.col(svec),
            F.col(nrm),
            F.col("cid"),
            (
                _dot(F.col(svec), F.col("cvec")) / (F.col(nrm) * F.col("__nc"))
            ).alias("ccos"),
        )
        if n == 1:
            return scored.groupBy(sid).agg(
                F.max(F.struct("ccos", "cid"))["cid"].alias("cell"),
                F.first(svec).alias(svec),
                F.first(nrm).alias(nrm),
            )
        w = Window.partitionBy(sid).orderBy(F.desc("ccos"), F.desc("cid"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .select(F.col(sid), F.col(svec), F.col(nrm), F.col("cid").alias("cell"))
        )

    data = assign(df.select(id_col, vec_col), id_col, vec_col, 1, "__nv")
    probes = assign(
        queries_df.select(query_id_col, query_vec_col),
        query_id_col,
        query_vec_col,
        nprobe,
        "__nq",
    )
    joined = data.join(F.broadcast(probes), on="cell")
    scored = joined.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        (
            _dot(F.col(vec_col), F.col(query_vec_col))
            / (F.col("__nv") * F.col("__nq"))
        ).alias("cos_raw"),
    ).filter(F.col("query_id") != F.col("neighbor_id")).distinct()
    return rank_topk(scored, "cos_raw", k, "cosine", descending=True)


def ivf_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    k: int = 10,
    centroid_ids: list[int] | None = None,
    nprobe: int = IVF_NPROBE,
) -> str:
    """DuckDB twin of :func:`ivf_topk` — same centroids, same (cos, cid)
    lexicographic assignment tiebreak (ORDER BY ccos DESC, cid DESC)."""
    if not query_ids:
        raise ValueError("query_ids must be a non-empty list (IN () is not SQL)")
    qids = ", ".join(str(i) for i in query_ids)
    cids = ", ".join(str(i) for i in (centroid_ids or IVF_CENTROID_IDS))

    def cos(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), p -> p[1]::DOUBLE * p[2]::DOUBLE))"
            f" / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
            f" * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))"
        )

    return f"""
WITH cents AS (
  SELECT {id_col} AS cid, {vec_col} AS cvec FROM {table} WHERE {id_col} IN ({cids})
),
data_assign AS (
  SELECT {id_col}, {vec_col}, cid AS cell,
         row_number() OVER (PARTITION BY {id_col}
                            ORDER BY {cos(vec_col, 'cvec')} DESC, cid DESC) AS rn
  FROM {table}, cents
  WHERE list_sum(list_transform({vec_col}, x -> x::DOUBLE * x::DOUBLE)) > 0
),
data_cells AS (SELECT {id_col}, {vec_col}, cell FROM data_assign WHERE rn = 1),
q AS (
  SELECT {id_col} AS query_id, {vec_col} AS qvec FROM {table}
  WHERE {id_col} IN ({qids})
    AND list_sum(list_transform({vec_col}, x -> x::DOUBLE * x::DOUBLE)) > 0
),
probe_assign AS (
  SELECT query_id, qvec, cid AS cell,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {cos('qvec', 'cvec')} DESC, cid DESC) AS rn
  FROM q, cents
),
probes AS (SELECT query_id, qvec, cell FROM probe_assign WHERE rn <= {nprobe}),
scored AS (
  SELECT DISTINCT p.query_id, d.{id_col} AS neighbor_id,
         {cos(f'd.{vec_col}', 'p.qvec')} AS cos_raw
  FROM data_cells d JOIN probes p ON d.cell = p.cell
  WHERE d.{id_col} <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""
