"""PageRank over a weighted digraph, with a TextRank-style edge builder.

Engine extension (the reference is a literature ETL tool, SURVEY §2 —
no graph surface): iterative link analysis for corpus curation.  The
canonical 100 TB uses are domain-authority scoring of a web crawl
(rank the URL-domain link graph, keep/boost high-authority domains)
and TextRank keyword extraction (Mihalcea & Tarau 2004: PageRank over
the word co-occurrence graph).  The gate exercises the TextRank shape
because the synthetic corpus has no hyperlinks.

Determinism across engines (the repo's q_micro device, integer-only):

- ranks live in integer MICRO units (1_000_000 = 1.0), never doubles;
- every division is *integer* division (`div` in Spark, `//` in
  DuckDB — both floor on non-negatives), applied in a pinned order:
  ``((rank * damping_milli) div 1000) * weight div wout``;
- summing int64 is associative, so partition/engine order can't move
  a last ulp the way float addition does.

Spark-first shape, sized for a 100 TB crawl graph:

- bigram edge extraction is pure array expressions (``slice`` +
  ``arrays_zip``) — zero Python, zero shuffle before the edge count;
- per-iteration work is one join of ``edges ⨝ ranks`` (both hash-
  partitioned on the source node; AQE keeps the plan honest under
  skew) plus one ``groupBy(dst)`` partial-aggregated shuffle;
- the dangling-mass and node-count scalars are one-row aggregates
  cross-joined (broadcast) into the update — no ``collect()``;
- each round's ranks are ``localCheckpoint(eager=True)``-ed: the
  iterative plan would otherwise nest one join tree per round and
  grow without bound (the exact lineage-OOM class fixed in
  operators/cluster.py — at production scale swap in a checkpoint
  dir on durable storage, same one-line change).

The DuckDB oracle is the same computation with the iteration loop
unrolled into a WITH-chain (r0 → rN), generated by ``pagerank_sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scholarmind_spark.operators.textstats import tokens, tokens_sql

MICRO = 1_000_000
# pagerank materializes (and truncates the lineage of) its ranks every
# CHECKPOINT_EVERY rounds and on the last one.  Per-round eager
# checkpoints made every iteration a separate materialization job, and a
# 2-round plan is still tiny.
CHECKPOINT_EVERY = 2


def cooccurrence_edges(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Directed word-adjacency edges ``src, dst, weight`` (corpus-wide
    bigram counts, lowercased; self-loops dropped)."""
    words = F.transform(tokens(F.col(text_col)), F.lower)

    # let-bind the tokenized array (the neardup.shingles idiom): four
    # occurrences below would each re-tokenize the document per row
    def _pairs(w):
        n = F.size(w)
        return F.arrays_zip(
            F.slice(w, 1, n - 1).alias("src"),
            F.slice(w, 2, n - 1).alias("dst"),
        )

    pairs = F.element_at(F.transform(F.array(words), _pairs), 1)
    return (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .filter((F.col("src") != "") & (F.col("dst") != "") & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("weight"))
    )


def cooccurrence_edges_sql(table: str, text_expr: str = "text") -> str:
    """DuckDB twin of :func:`cooccurrence_edges`."""
    toks = f"list_transform({tokens_sql(text_expr)}, w -> lower(w))"
    return f"""
  SELECT src, dst, count(*) AS weight
  FROM (
    SELECT t.ws[i.i] AS src, t.ws[i.i + 1] AS dst
    FROM (SELECT {toks} AS ws FROM {table}) t,
         unnest(range(1, len(t.ws))) AS i(i)
  )
  WHERE src <> '' AND dst <> '' AND src <> dst
  GROUP BY src, dst"""


def pagerank(
    edges: DataFrame,
    iterations: int = 6,
    damping_milli: int = 850,
) -> DataFrame:
    """``node, rank_micro`` after ``iterations`` rounds of damped
    PageRank over ``edges(src, dst, weight)``; all-integer fixed point.
    The ranks are checkpointed every ``CHECKPOINT_EVERY`` (2) rounds and
    after the last one; the cadence does not change the result.

    Per round, with d = damping_milli/1000 and V = node count:

        damped(u)   = (rank(u) * damping_milli) div 1000
        contrib(v)  = Σ_{u→v} damped(u) * w(u,v) div wout(u)
        share       = Σ_{dangling u} damped(u) div V
        rank'(v)    = (MICRO - damping_milli * 1000) + share + contrib(v)
    """
    from scholarmind_spark.util import attach_caches, unpersist_any

    teleport = MICRO - damping_milli * 1000

    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outw = (
        edges.groupBy("src").agg(F.sum("weight").alias("wout")).localCheckpoint(eager=True)
    )
    v_df = nodes.agg(F.count("*").alias("__v"))

    # bound before the try: the except handler unpersists it, and an
    # exception on the try's FIRST statement would otherwise leave it
    # unbound — the cleanup's NameError masking the original error
    ranks: DataFrame | None = None
    last_ckpt: DataFrame | None = None
    try:
        ranks = nodes.select("node", F.lit(MICRO).cast("long").alias("rank"))
        if iterations <= 0:
            # the 0-iteration plan still READS nodes' checkpoint blocks — it
            # must be materialized to its own checkpoint before the aux
            # relations are freed below, or collect() hits missing blocks
            ranks = ranks.localCheckpoint(eager=True)
        for it in range(iterations):
            damped = ranks.select(
                "node", F.expr(f"(rank * {damping_milli}) div 1000").alias("__d")
            )
            contrib = (
                edges.join(damped, edges["src"] == damped["node"])
                .join(outw, "src")
                .select(
                    F.col("dst").alias("node"),
                    F.expr("__d * weight div wout").alias("__c"),
                )
                .groupBy("node")
                .agg(F.sum("__c").alias("__contrib"))
            )
            dangling = (
                damped.join(outw, damped["node"] == outw["src"], "left_anti")
                .agg(F.coalesce(F.sum("__d"), F.lit(0)).alias("__dsum"))
            )
            share = dangling.crossJoin(v_df).select(
                F.expr("__dsum div __v").alias("__share")
            )
            new_ranks = (
                nodes.join(contrib, "node", "left")
                .crossJoin(F.broadcast(share))
                .select(
                    "node",
                    (
                        F.lit(teleport)
                        + F.col("__share")
                        + F.coalesce(F.col("__contrib"), F.lit(0))
                    ).cast("long").alias("rank"),
                )
            )
            # materialize + truncate lineage every CHECKPOINT_EVERY rounds
            # (and on the last round).  The previous checkpoint's blocks
            # are freed only AFTER the next checkpoint exists
            # (intermediate rounds' plans still read them).
            if (it + 1) % CHECKPOINT_EVERY == 0 or it == iterations - 1:
                new_ranks = new_ranks.localCheckpoint(eager=True)
                if last_ckpt is not None:
                    unpersist_any(last_ckpt)
                last_ckpt = new_ranks
            ranks = new_ranks
        # the loop's working set is no longer needed once the final ranks are
        # materialized; the final checkpoint is attached for caller release
        for aux in (edges, nodes, outw):
            unpersist_any(aux)
        out = ranks.select("node", F.col("rank").alias("rank_micro"))
        return attach_caches(out, [ranks])
    except BaseException:
        # a failure mid-loop must not strand the checkpointed working
        # set (edges/nodes/outw + the current rounds) for the session
        for aux in (edges, nodes, outw, ranks, last_ckpt):
            if aux is not None:
                unpersist_any(aux)
        raise


def pagerank_sql(
    edges_sql: str,
    iterations: int = 6,
    damping_milli: int = 850,
) -> str:
    """DuckDB twin of :func:`pagerank`: the loop unrolled into a
    WITH-chain.  ``edges_sql`` must select ``src, dst, weight``.
    Every aggregate is cast ``::BIGINT`` (DuckDB sum → HUGEINT)."""
    teleport = MICRO - damping_milli * 1000
    dm = damping_milli
    # AS MATERIALIZED pins each round to one evaluation: every __r{i}
    # references __r{i-1} twice (contrib join + dangling scalar), so an
    # inlined CTE chain re-expands ~2^iterations — the SQL-side twin of
    # the Spark lineage blow-up that localCheckpoint truncates.
    parts = [
        f"WITH __edges AS MATERIALIZED ({edges_sql})",
        "__nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM __edges UNION ALL SELECT dst FROM __edges))",
        "__outw AS MATERIALIZED "
        "(SELECT src, sum(weight)::BIGINT AS wout FROM __edges GROUP BY src)",
        "__nv AS MATERIALIZED (SELECT count(*)::BIGINT AS v FROM __nodes)",
        f"__r0 AS MATERIALIZED (SELECT node, {MICRO}::BIGINT AS rank FROM __nodes)",
    ]
    for i in range(1, iterations + 1):
        prev = f"__r{i - 1}"
        parts.append(
            f"""__r{i} AS MATERIALIZED (
  SELECT n.node,
         ({teleport}
          + (SELECT coalesce(sum((r.rank * {dm}) // 1000), 0)::BIGINT // (SELECT v FROM __nv)
             FROM {prev} r LEFT JOIN __outw o ON r.node = o.src
             WHERE o.src IS NULL)
          + coalesce(c.contrib, 0))::BIGINT AS rank
  FROM __nodes n
  LEFT JOIN (
    SELECT e.dst AS node,
           sum(((r.rank * {dm}) // 1000) * e.weight // o.wout)::BIGINT AS contrib
    FROM __edges e
    JOIN {prev} r ON e.src = r.node
    JOIN __outw o ON e.src = o.src
    GROUP BY e.dst
  ) c ON n.node = c.node
)"""
        )
    body = ",\n".join(parts)
    return f"{body}\nSELECT node, rank AS rank_micro FROM __r{iterations}"


def triangle_stats(edges: DataFrame) -> DataFrame:
    """One row ``n_nodes, n_edges, n_wedges, n_triangles,
    clustering_coeff`` for the undirected simple graph underlying
    ``edges(src, dst, ...)`` — triangle census + global clustering
    coefficient (3·triangles / wedges), the standard structure audit for
    a co-occurrence or link graph.

    Engine extension (SURVEY §2 — no graph surface in the reference).
    The 100 TB shape is the MapReduce degree-orientation algorithm
    (Cohen 2009; Suri & Vassilvitskii WWW'11): orient every undirected
    edge from its lower-(degree, name) endpoint to the higher one, then
    count directed paths x→y→z closed by an x→z edge.  Orientation makes
    every out-degree O(√m), so the path join materializes O(m^{3/2})
    candidate rows worst-case instead of Σ deg² — on a power-law graph
    the difference between a bounded shuffle and a hot-vertex explosion
    (a celebrity node with deg 10⁷ would otherwise fan out 10¹⁴ wedges;
    oriented, its out-degree collapses to its few higher-degree peers).

    Plan: the undirected edge set is built once and ``persist()``-ed
    (four consumers: degrees, orientation, closure probe, edge count —
    released via ``release_caches``); the path join shuffles oriented
    edges on the middle vertex; the closure is a LEFT SEMI join on
    (x, z) — AQE's skew-join split covers residual hot middles.  All
    counts are int64; the only float is the final coefficient, round(6).

    Determinism: counts are order-independent; orientation ties (equal
    degree) break on the node name, so the census is unique.
    """
    from scholarmind_spark.util import attach_caches

    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .persist()
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("x"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("y"),
        )
    )
    paths = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.y") == F.col("e2.x"))
        .select(
            F.col("e1.x").alias("x"), F.col("e1.y").alias("y"),
            F.col("e2.y").alias("z"),
        )
    )
    closer = oriented.select(F.col("x"), F.col("y").alias("z"))
    tri = paths.join(closer, ["x", "z"], "left_semi")

    nodes_agg = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("(deg * (deg - 1)) div 2"))
        .cast("bigint")
        .alias("n_wedges"),
    )
    out = (
        und.agg(F.count("*").alias("n_edges"))
        .crossJoin(nodes_agg)
        .crossJoin(tri.agg(F.count("*").alias("n_triangles")))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.lit(3) * F.col("n_triangles").cast("double")
                    / F.col("n_wedges"),
                    6,
                ),
            ).alias("clustering_coeff"),
        )
    )
    return attach_caches(out, [und, deg])


def triangle_stats_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`triangle_stats` — same orientation, same
    census, same pinned float.  ``edges_sql`` must select ``src, dst``.
    MATERIALIZED pins the shared edge set / degree table to one
    evaluation each (the SQL twin of the Spark-side persist())."""
    return f"""
WITH __dedges AS MATERIALIZED ({edges_sql}),
__und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM __dedges WHERE src <> dst
),
__deg AS MATERIALIZED (
  SELECT node, count(*)::BIGINT AS deg FROM
  (SELECT a AS node FROM __und UNION ALL SELECT b FROM __und)
  GROUP BY node
),
__oriented AS MATERIALIZED (
  SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND u.a < u.b)
              THEN u.a ELSE u.b END AS x,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND u.a < u.b)
              THEN u.b ELSE u.a END AS y
  FROM __und u
  JOIN __deg da ON u.a = da.node
  JOIN __deg db ON u.b = db.node
),
__tri AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM __oriented e1 JOIN __oriented e2 ON e1.y = e2.x
  WHERE EXISTS (SELECT 1 FROM __oriented c
                WHERE c.x = e1.x AND c.y = e2.y)
),
__nagg AS (
  SELECT count(*)::BIGINT AS n_nodes,
         sum(deg * (deg - 1) // 2)::BIGINT AS n_wedges
  FROM __deg
),
__eagg AS (SELECT count(*)::BIGINT AS n_edges FROM __und)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN round(3 * n_triangles::DOUBLE / n_wedges, 6) END
         AS clustering_coeff
FROM __eagg, __nagg, __tri
"""
