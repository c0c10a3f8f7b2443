"""SemDeDup — semantic deduplication via k-means-cell-bounded cosine
pairs (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication").

The published recipe: cluster the embedding corpus with k-means, compare
pairs ONLY within a cluster, and inside every near-duplicate relation keep
the example with the LOWEST similarity to its cluster centroid (the
"outlier" of the group — the paper's default, shown to beat keeping the
most-central example).

Keep-order normalization assumption: this implementation orders the keep
decision by squared-L2 distance to the assigned centroid.  Within a cell
the centroid is a constant, so for UNIT-NORM corpus embeddings
``dist² = 1 + ‖c‖² − 2·(x·c)`` is strictly decreasing in ``x·c`` and the
L2 order IS the paper's lowest-cosine-to-centroid order (regardless of
the centroid's own norm).  SemDeDup normalizes embeddings before
clustering (Abbas et al. §3); do the same upstream — on unnormalized
embeddings the survivor choice diverges from the paper's default (the
pair THRESHOLD is true cosine either way; only the within-group survivor
pick is affected).  Pinned by ``test_keep_order_matches_cosine_on_unit_norm``.

Spark-first shape — no iteration, no driver loop:

- assignment is a PURE PROJECTION: the codebook is k tiny rows by
  contract (the :func:`operators.kmeans.kmeans_fit` output — its
  ``_materialize`` collects it every iteration for the same reason), so
  it is collected once at plan-build time and inlined as a literal
  array of (cid, cvec) structs; per row the argmin is one
  ``array_min(transform(...))`` over k struct(d, cid) entries —
  lexicographic (d, cid), deterministic ties — with NO join, NO
  aggregate and NO shuffle (the previous corpus × broadcast(codebook)
  cross + min(struct) aggregate planned as back-to-back SortAggregates
  that sorted corpus rows carrying the embedding arrays);
- the pair stage is ONE self-equi-join on the cell id, so candidate
  volume is Σ cell_size² — bounded by the codebook granularity ``k``
  exactly like the IVF index, never the corpus' n²;
- the keep decision is a single EXISTS (anti-join): a vector is dropped
  iff some co-cell neighbour with cosine ≥ τ sits FARTHER from the
  centroid (exact distance ties: the smaller id survives), which
  reproduces the paper's
  triangular-matrix sweep without ordering state — y being dropped
  itself does not rescue x, exactly as in the reference implementation's
  upper-triangular formulation.

At 100 TB the cell join is the only part that can misbehave: a mega-cell
(skewed codebook) turns its self-join quadratic.  Production guidance:
train the codebook with :func:`operators.kmeans.kmeans_fit` at a ``k``
that caps expected cell size, and re-split any over-capacity cell by
sub-clustering it (the same operator applied recursively to one cell's
rows); AQE's skew-join split handles the residual imbalance.

Angle-band prefilter (sound, oracle needs no mirror): per row we
precompute the angle θ to one fixed reference direction; on the unit
sphere |θ_a − θ_b| ≤ arccos(cos(a,b)), so any pair with angle gap above
``arccos(τ) + ε`` cannot reach the threshold and dies on a one-
subtraction scalar test before the d-dimensional dot product.

Zero-norm vectors have no defined cosine: they never pair, so they are
always kept (both engines filter them out of the pair join).

Reference parity note: the upstream reference system (ScholarMind) has no
embedding pipeline at all — this operator extends the engine for
LLM-training-data curation, where SemDeDup is the standard semantic-
level pass after exact/MinHash dedup.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scholarmind_spark.operators.similarity import (
    _dot,
    _dot_pairs_arrow,
    _norm,
    _plane_signs,
)
from scholarmind_spark.util import attach_caches


def semdedup(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    inline_max: int = 256,
) -> DataFrame:
    """Per-vector SemDeDup verdicts under a trained codebook.

    ``centroids`` is ``(cid long, cvec array)`` — from
    :func:`operators.kmeans.kmeans_fit` in production, or any
    deterministic subset when an external twin must reproduce the cells.

    Assignment is two-tier by codebook size (both tiers compute the
    identical (d, cid)-lexicographic argmin, pinned by a path-parity
    test): up to ``inline_max`` centroids the codebook inlines as a plan
    literal (map-only, no shuffle); beyond that the literal plan's
    per-row O(k·d) evaluation and plan size stop paying and assignment
    falls back to the corpus × broadcast(codebook) + ``min(struct)``
    aggregate of :func:`operators.kmeans._assign`.  The round-12
    probe is what forced this honesty: scaling k
    WITH the corpus keeps the pair stage linear but makes the literal
    assignment itself O(n·k·d) — at a codebook too big to broadcast,
    coarse-quantize the codebook itself (IVF-style two-level
    assignment) before reaching for this operator.

    Returns ``id_col, cell, dist, kept`` (``dist`` = squared-L2 distance
    to the assigned centroid, rounded 6 for presentation; the keep
    ordering uses the full double).
    """
    # Size/emptiness probe bounded at inline_max+1 rows: the broadcast
    # tier exists precisely for codebooks too big to want on the driver,
    # so an unconditional full collect() here would defeat it (r12
    # ADVICE) — only the literal tier ever materializes full rows, and
    # the probe doubles as its row source.
    cent_rows = centroids.select("cid", "cvec").limit(inline_max + 1).collect()
    if not cent_rows:
        raise ValueError("semdedup: empty codebook (no centroid rows)")
    # NOTE (r16, measured): pre-casting the float embedding to
    # array<double> here — the similarity-family cast elimination — was
    # A/B'd bit-identical but SLOWER in combination with the Arrow pair
    # dot below (interleaved medians: base 2.01 s, precast 1.99, arrow
    # 1.79, precast+arrow 1.94): the persisted ``assigned`` relation
    # doubles in bytes while only the tiny 16-centroid literal
    # assignment saves casts.  Arrow-only is the measured best.
    if len(cent_rows) <= inline_max:
        cent = F.array(
            *[
                F.struct(
                    F.lit(int(r["cid"])).cast("long").alias("cid"),
                    F.array(*[F.lit(float(x)) for x in r["cvec"]]).alias("cvec"),
                )
                for r in cent_rows
            ]
        )
        best = F.array_min(
            F.transform(
                cent,
                lambda c: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col(vec_col),
                            c["cvec"],
                            lambda x, y: (x.cast("double") - y) ** 2,
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    ).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        assigned = df.select(
            F.col(id_col),
            F.col(vec_col),
            best["cid"].alias("cell"),
            best["d"].alias("dist"),
        ).persist()
    else:
        from scholarmind_spark.operators.kmeans import _assign

        assigned = (
            _assign(df, centroids, id_col, vec_col)
            .select(id_col, vec_col, "cell", "dist")
            .persist()
        )

    u = [c / math.sqrt(dim) for c in _plane_signs(1, dim)[0]]
    uvec = F.array(*[F.lit(float(c)) for c in u])
    theta = F.acos(
        F.least(
            F.greatest(_dot(F.col(vec_col), uvec) / _norm(F.col(vec_col)), F.lit(-1.0)),
            F.lit(1.0),
        )
    )
    band = math.acos(max(-1.0, min(1.0, threshold))) + 1e-6

    side = assigned.filter(_norm(F.col(vec_col)) > 0).select(
        F.col(id_col).alias("id"),
        "cell",
        F.col("dist").alias("d"),
        theta.alias("th"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    # x dropped iff ∃ co-cell y with cos(x,y) ≥ τ that the keep order
    # prefers: farther from the centroid, smaller id on an exact tie
    removed = (
        side.alias("l")
        .join(side.alias("r"), on="cell")
        .filter(F.col("l.id") != F.col("r.id"))
        .filter(
            (F.col("r.d") > F.col("l.d"))
            | ((F.col("r.d") == F.col("l.d")) & (F.col("r.id") < F.col("l.id")))
        )
        .filter(F.abs(F.col("l.th") - F.col("r.th")) <= band)
        .filter(
            # per-PAIR dot through the Arrow batch path — bit-identical
            # to _dot (see similarity._dot_pairs_arrow)
            _dot_pairs_arrow(F.col("l.v"), F.col("r.v"))
            / (F.col("l.nrm") * F.col("r.nrm"))
            >= threshold
        )
        .select(F.col("l.id").alias(id_col))
        .distinct()
        .withColumn("__rm", F.lit(True))
    )
    out = (
        assigned.join(removed, id_col, "left")
        .select(
            id_col,
            "cell",
            F.round("dist", 6).alias("dist"),
            F.coalesce(~F.col("__rm"), F.lit(True)).alias("kept"),
        )
    )
    return attach_caches(out, [assigned])


def cap_cells(
    df: DataFrame,
    centroids: DataFrame,
    max_cell: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    max_depth: int = 3,
) -> DataFrame:
    """Refine a codebook until no cell exceeds ``max_cell`` members — the
    capacity tool :func:`semdedup`'s 100 TB posture depends on (its pair
    stage is Σ cell_size², so ONE runaway cell is a quadratic hot spot).

    Spark-first: every oversized cell is sub-clustered SIMULTANEOUSLY by
    a grouped Lloyd — one k-means whose state is keyed by (cell, sub), so
    a level costs the same shuffle structure regardless of whether 1 or
    100k cells are over capacity (NO per-cell driver loop; the driver
    only counts oversized cells once per level, ``max_depth`` ≤ 3 levels):

    - per-cell k is derived in-plan (``ceil(size / max_cell)``, ≥ 2);
    - init picks each cell's k hash-smallest members (one window over the
      oversized membership — the ``kmeans_fit`` seeding argument, grouped);
    - assignment joins members to sub-centroids ON THE CELL KEY, so
      candidate volume is Σ size_c · k_c ≈ Σ size_c²/max_cell per
      iteration — bounded by the same quantity the cap exists to control;
    - the update is the ``kmeans_fit`` posexplode/rebuild device keyed by
      (cell, sub); empty sub-cells keep their previous centroid;
    - each level's state is ``localCheckpoint(eager=True)``-ed (the
      pagerank/cluster lineage-truncation device) — the sub-centroid
      table is NOT driver-sized in general, so the ``_materialize``
      collect of ``kmeans_fit`` would be wrong here.

    Best-effort by construction: a cell of near-identical vectors cannot
    be split by ANY clustering and stays over capacity after
    ``max_depth`` levels — harmless for SemDeDup specifically, because
    such a cell is one duplicate group and collapses to one survivor
    anyway.  New sub-cells get fresh cids above the codebook's max.

    Returns the refined ``(cid, cvec)`` codebook (array<double> cvec).
    """
    from pyspark.sql.window import Window

    from scholarmind_spark.operators.kmeans import _assign
    from scholarmind_spark.util import unpersist_any

    # bound before the try: the except handler frees every live
    # checkpoint (the pagerank discipline)
    cents = over = members = sub = None
    try:
        cents = centroids.select(
            F.col("cid").cast("long").alias("cid"),
            F.transform(F.col("cvec"), lambda x: x.cast("double")).alias("cvec"),
        ).localCheckpoint(eager=True)

        for _ in range(max_depth):
            assigned = _assign(df, cents, id_col, vec_col)
            over = (
                assigned.groupBy("cell")
                .agg(F.count("*").alias("__n"))
                .filter(F.col("__n") > max_cell)
                .select(
                    "cell",
                    F.greatest(
                        F.ceil(F.col("__n") / F.lit(max_cell)).cast("int"), F.lit(2)
                    ).alias("__k"),
                )
            ).localCheckpoint(eager=True)
            if over.count() == 0:
                unpersist_any(over)
                break
            members = (
                assigned.join(over, "cell")
                .select(
                    "cell", "__k",
                    F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                )
            ).localCheckpoint(eager=True)

            w = Window.partitionBy("cell").orderBy(F.xxhash64(F.col("id")), F.col("id"))
            sub = (
                members.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= F.col("__k"))
                .select("cell", F.col("__rn").cast("long").alias("sub"),
                        F.transform("v", lambda x: x.cast("double")).alias("cvec"))
            ).localCheckpoint(eager=True)

            for _i in range(iters):
                dc = F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("v"), F.col("cvec"),
                            lambda x, y: (x.cast("double") - y) ** 2,
                        ),
                        F.lit(0.0),
                        lambda acc, vv: acc + vv,
                    ).alias("d"),
                    F.col("sub").alias("sub"),
                )
                hit = (
                    members.join(sub, "cell")
                    .select("cell", "id", "v", dc.alias("dc"))
                    .groupBy("cell", "id")
                    .agg(F.min("dc")["sub"].alias("sub"), F.first("v").alias("v"))
                )
                means = (
                    hit.select("cell", "sub", F.posexplode("v").alias("pos", "x"))
                    .groupBy("cell", "sub", "pos")
                    .agg(F.avg("x").alias("m"))
                    .groupBy("cell", "sub")
                    .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
                    .select(
                        "cell", "sub",
                        F.transform("pm", lambda p: p["m"]).alias("cvec"),
                    )
                )
                kept_subs = sub.join(means, ["cell", "sub"], "left_anti")
                refreshed = means.unionByName(kept_subs).localCheckpoint(eager=True)
                unpersist_any(sub)
                sub = refreshed

            base = cents.agg(F.max("cid")).first()[0]
            # codebook-sized single exchange (constant partition key stated
            # explicitly — same plan, no spurious global-window warning)
            w2 = Window.partitionBy(F.lit(0)).orderBy("cell", "sub")
            new_cents = sub.select(
                (F.lit(int(base)) + F.row_number().over(w2)).cast("long").alias("cid"),
                "cvec",
            )
            refreshed_cents = (
                cents.join(over.select(F.col("cell").alias("cid")), "cid", "left_anti")
                .unionByName(new_cents)
                .localCheckpoint(eager=True)
            )
            unpersist_any(cents)
            unpersist_any(sub)
            unpersist_any(members)
            unpersist_any(over)
            cents = refreshed_cents
        # the codebook is itself a checkpoint: tagged so the caller's
        # release_caches frees its blocks
        return attach_caches(cents, [cents])
    except BaseException:
        for c in (cents, over, members, sub):
            if c is not None:
                unpersist_any(c)
        raise


def semdedup_sql(
    table: str = "embeddings",
    centroid_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> str:
    """DuckDB twin of :func:`semdedup` under a corpus-subset codebook
    (``centroid_ids`` rows of ``table`` are the centroids — the same
    device as the kmeans/IVF gates, so the oracle reproduces the cells).
    The angle-band prefilter is NOT mirrored (it is sound, so the result
    set is identical without it)."""
    ids = ", ".join(str(i) for i in centroid_ids or [])
    sq = (
        f"list_sum(list_transform(list_zip(e.{vec_col}, c.cvec),"
        " p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)))"
    )
    dot = (
        f"list_sum(list_transform(list_zip(l.v, r.v),"
        " p -> p[1]::DOUBLE * p[2]::DOUBLE))"
    )
    nrm = "sqrt(list_sum(list_transform({}, x -> x::DOUBLE * x::DOUBLE)))"
    return f"""
WITH c AS (
  SELECT {id_col} AS cid, {vec_col} AS cvec FROM {table} WHERE {id_col} IN ({ids})
),
a AS (
  SELECT id, cell, d, v FROM (
    SELECT e.{id_col} AS id, c.cid AS cell, {sq} AS d, e.{vec_col} AS v,
           row_number() OVER (PARTITION BY e.{id_col} ORDER BY {sq}, c.cid) AS rn
    FROM {table} e CROSS JOIN c
  ) WHERE rn = 1
),
s AS (
  SELECT id, cell, d, v, {nrm.format('v')} AS nrm FROM a
  WHERE {nrm.format('v')} > 0
),
rm AS (
  SELECT DISTINCT l.id FROM s l JOIN s r ON l.cell = r.cell AND l.id <> r.id
  WHERE (r.d > l.d OR (r.d = l.d AND r.id < l.id))
    AND {dot} / (l.nrm * r.nrm) >= {threshold}
)
SELECT a.id AS {id_col}, a.cell, round(a.d, 6) AS dist,
       (rm.id IS NULL) AS kept
FROM a LEFT JOIN rm ON a.id = rm.id
"""
