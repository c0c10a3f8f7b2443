"""Near-duplicate clustering: pair list → connected components → survivor.

The near-dup operators emit PAIRS (``id_a, id_b, score``); an actual dedup
pipeline needs CLUSTERS (duplicate groups) and one survivor per cluster.
Transitivity matters: A~B and B~C puts A,B,C in one group even when A~C
scored under threshold.

Scale design — min-label propagation WITH pointer jumping, as a driver
loop of DataFrame joins (the standard Spark shape when a graph library
isn't warranted):

- labels start as ``min(own id, min neighbor id)`` (the seed absorbs the
  first propagation round);
- each round every node takes
  ``min(own label, neighbors' labels, label(own label))`` — the last term
  is the pointer-jumping / path-shortcutting step of the classic PRAM CC
  algorithms (same device as the two-phase MapReduce CC of Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14): the
  label a node points at is itself a node whose label reaches another
  ``d`` hops further, so reach DOUBLES per round and convergence is
  O(log diameter) rounds, not O(diameter) — a 100 TB web-dedup graph
  with a million-node path component converges in ~20 rounds;
- labels only ever decrease and every label is a node id inside the same
  component, so the fixpoint (no label changes) is exactly the per-node
  component minimum.

The symmetric edge list comes from ONE scan of the pairs (each pair
explodes into both directed edges, then ``distinct``).  Each round is
two bounded joins (edges⋈labels on the edge list, labels⋈labels for the
jump) plus one map-side-combining ``groupBy`` that also carries the
node's previous label as ``min(old)``.  The round's ONE driver action is
``count_if(label < old)`` over the round's lazy checkpoint: it computes
and checkpoints the round, and 0 means converged (labels only decrease,
so "no label fell" is the fixpoint; the count works for any orderable id
type, strings included).  At 100 TB the pair list is orders of magnitude
smaller than the corpus (it only contains near-dups), so the loop runs
on a relation that broadcast-joins back to the corpus at the end.

The seed and every round are ``localCheckpoint(eager=False)``-ed, NOT
persisted: the round plan references the previous labels three times,
so without lineage truncation the logical plan tree grows ~3^rounds and
merely stringifying it (cache names, explain, AQE logging) exhausts the
driver heap — observed as a JVM OOM inside ``Dataset.persist`` →
``treeString`` on a diameter-16 graph.  The checkpoint resets the plan to
a LogicalRDD leaf at call time, and the round's action fills its blocks
(an eager checkpoint would spend a second job on that).  A ``persist()``
on the seed instead gives three in-memory-cache reads per round plan, and
the number of jobs that race to materialize them varies from run to run.
The previous round's blocks are freed as soon as the next round is
counted (``util.unpersist_any``).  On a real cluster ``localCheckpoint``
trades fault-tolerance for speed (blocks die with an executor); a
production run with flaky executors should set a checkpoint dir and swap
in ``DataFrame.checkpoint`` — same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scholarmind_spark.util import attach_caches as _attach_caches
from scholarmind_spark.util import unpersist_any as _unpersist_any


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """``node, component`` for every node in ``pairs``; component = min node
    id reachable through the pair graph (deterministic canonical label).

    O(log diameter) rounds via pointer jumping, one driver action and a
    lazy localCheckpoint per round (see module docstring);
    ``max_iter=25`` therefore covers any graph a 64-bit id space can
    hold, and non-convergence within the budget raises."""
    # one scan of the pair list: each pair explodes into both directed
    # edges (a self-union would plan, and list, the pairs twice)
    both = F.array(
        F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
        F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
    )
    edges = pairs.select(F.explode(both).alias("e")).select("e.*").distinct().persist()
    # SEEDED initial labels: label₀ = min(node, min neighbor) — the one
    # shuffle that lists the nodes also absorbs the first
    # neighbor-propagation round (a star cluster, the common dedup shape,
    # is already at its fixpoint and pays only the confirming round).  The
    # fixpoint is unchanged: any initial labeling with label ≤ node and
    # label within the node's component converges to the per-component
    # min under the same monotone update.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("mn")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )
    ok = False
    try:
        for _ in range(max_iter):
            # neighbor labels: edge dst carries its current label to src
            neighbor = (
                edges.join(labels, edges.dst == labels.node)
                .select(F.col("src").alias("node"), "label")
            )
            # pointer jump: follow the label pointer one hop —
            # label(label(node)).  Every label is a node id in the same
            # component, so the jump target always exists in `labels`
            # (left join only as belt-and-braces) and its label is ≤ ours;
            # the jump row therefore also stands in for the node's own
            # label, and carries that label as `old` for the change count.
            jump = (
                labels.alias("l")
                .join(
                    labels.select(
                        F.col("node").alias("ref_node"),
                        F.col("label").alias("ref_label"),
                    ),
                    F.col("l.label") == F.col("ref_node"),
                    "left",
                )
                .select(
                    F.col("l.node").alias("node"),
                    F.coalesce("ref_label", "l.label").alias("label"),
                    F.col("l.label").alias("old"),
                )
            )
            rnd = (
                jump.unionByName(neighbor, allowMissingColumns=True)
                .groupBy("node")
                .agg(F.min("label").alias("label"), F.min("old").alias("old"))
                .localCheckpoint(eager=False)
            )
            # the round's one action computes AND checkpoints it: labels
            # only decrease, so "no label fell" is the fixpoint
            changed = rnd.agg(F.count_if(F.col("label") < F.col("old"))).collect()[0][0]
            _unpersist_any(labels)
            labels = rnd
            if changed == 0:
                break
        else:
            # surface instead of silently returning a partial labeling: a
            # graph this budget cannot close (diameter > 2^max_iter) needs
            # an explicitly bigger budget, and the caller must know
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "iterations; raise max_iter for this graph"
            )
        out = labels.select("node", F.col("label").alias("component"))
        # the final round was materialized by its change count; the caller
        # releases it via release_caches() after consuming `out`
        ok = True
        return _attach_caches(out, [labels])
    finally:
        edges.unpersist()
        if not ok:
            # non-convergence or a failure mid-loop (the change count, a
            # checkpoint) must not strand the current round's blocks
            _unpersist_any(labels)


def dedup_survivors(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """``node, component, is_survivor`` — min-id per component survives
    (deterministic policy; a quality-score orderBy slots in the same
    min_by shape)."""
    cc = connected_components(pairs, id_a, id_b)
    out = cc.select(
        "node", "component", (F.col("node") == F.col("component")).alias("is_survivor")
    )
    # forward both the CC loop's cache and any caches the pair-producing
    # operator attached, so one release_caches() call frees the whole chain
    return _attach_caches(
        out, getattr(cc, "_sm_caches", []) + list(getattr(pairs, "_sm_caches", []))
    )


def cluster_representatives(
    pairs: DataFrame | None,
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    components: DataFrame | None = None,
) -> DataFrame:
    """Quality-based keep decision per duplicate cluster: for every
    connected component of the near-dup pair graph, the member with the
    HIGHEST ``score_col`` (ties → lowest id, fully deterministic) is the
    representative.  Returns one row per cluster: ``component, keep,
    n_members, best_score``.

    This is the end step of a dedup pipeline — :func:`dedup_survivors`'
    min-id policy keeps an arbitrary member; a curation pipeline keeps
    the best one (e.g. ``textstats.quality_score``) and drops the rest.
    Docs not in any pair are their own representatives by definition and
    are deliberately NOT emitted (no join against the full corpus for
    information the caller already has).  Members missing from ``scored``
    still count in ``n_members`` and sort after every scored member (an
    all-unscored cluster keeps its lowest id with null ``best_score``).

    Plan shape: CC runs on the pair list (orders of magnitude smaller
    than the corpus); ``scored`` joins once on the cluster MEMBERS only
    (AQE broadcasts the member list when small), then one window per
    component — the window's partition count is #clusters, not #docs.

    ``components``: a precomputed ``node, component`` labeling (from
    :func:`connected_components` over the same pairs) — pass it when
    several consumers share one CC run in a job (the battery's three
    cluster gates do); ``pairs`` may then be None."""
    from pyspark.sql import Window

    if components is not None:
        cc = components
    else:
        if pairs is None:
            raise ValueError("need pairs or components")
        cc = connected_components(pairs)
    # LEFT join: a member with no score row (filtered upstream) must still
    # count in n_members and can still be kept (null scores sort last, so
    # an all-unscored cluster keeps its lowest id and best_score is null)
    members = cc.join(
        scored.select(F.col(id_col).alias("node"), F.col(score_col).alias("__s")),
        "node",
        "left",
    )
    w = Window.partitionBy("component").orderBy(
        F.desc_nulls_last("__s"), F.asc("node")
    )
    out = (
        members.withColumn("__rn", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.max(F.when(F.col("__rn") == 1, F.col("node"))).alias("keep"),
            F.count("*").alias("n_members"),
            F.max("__s").alias("best_score"),
        )
    )
    if components is not None:
        # the caller owns a SHARED labeling (and its caches) — attaching
        # them here would let release_caches() on ONE consumer's output
        # destroy the localCheckpoint blocks every other consumer still
        # reads ("Checkpoint block not found" on the next action)
        return _attach_caches(out, list(getattr(pairs, "_sm_caches", [])))
    return _attach_caches(
        out, getattr(cc, "_sm_caches", []) + list(getattr(pairs, "_sm_caches", []))
    )


def cluster_representatives_sql(
    pairs_sql: str,
    scored_sql: str,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> str:
    """DuckDB twin of :func:`cluster_representatives` (same CC, same
    window tiebreak, same aggregate shape)."""
    cc = connected_components_sql(pairs_sql)
    return f"""
SELECT component,
       max(CASE WHEN __rn = 1 THEN node END) AS keep,
       count(*) AS n_members,
       max(__s) AS best_score
FROM (
  SELECT m.node, m.component, s.__s,
         row_number() OVER (PARTITION BY m.component
                            ORDER BY s.__s DESC NULLS LAST, m.node ASC) AS __rn
  FROM ({cc}) m
  LEFT JOIN (SELECT {id_col} AS node, {score_col} AS __s FROM ({scored_sql})) s
    ON s.node = m.node
)
GROUP BY component
"""


def connected_components_sql(pairs_sql: str, id_a: str = "id_a", id_b: str = "id_b") -> str:
    """DuckDB twin: min reachable id via a recursive CTE (UNION dedups the
    frontier, so the recursion terminates on cyclic graphs)."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT {id_a} AS src, {id_b} AS dst FROM pairs
  UNION
  SELECT {id_b} AS src, {id_a} AS dst FROM pairs
),
walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
)
SELECT node, min(label) AS component FROM walk GROUP BY node
"""
