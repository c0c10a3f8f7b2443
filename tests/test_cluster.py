"""Connected-components clustering vs an independent union-find reference."""

from __future__ import annotations

import time

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from scholarmind_spark.operators.cluster import connected_components, dedup_survivors
from scholarmind_spark.util import release_caches


def union_find_reference(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node in component
    return {n: find(n) for n in parent}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    cc = connected_components(pairs)
    got = {r.node: r.component for r in cc.collect()}
    release_caches(cc)
    want = union_find_reference(edges)
    assert got == want


def test_dedup_survivors_transitive_chain(spark):
    """A~B, B~C, D~E: components {A,B,C} and {D,E}; min ids survive even
    though A~C was never a pair (transitivity)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = dedup_survivors(pairs)
    rows = {r.node: (r.component, r.is_survivor) for r in out.collect()}
    release_caches(out)
    assert rows == {
        1: (1, True), 2: (1, False), 3: (1, False),
        10: (10, True), 11: (10, False),
    }


def test_release_frees_loop_caches(spark):
    spark.catalog.clearCache()
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    out = dedup_survivors(pairs)
    out.collect()
    release_caches(out)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_connected_components_string_ids(spark):
    """String node ids must converge correctly: the old sum(label)
    convergence metric was NULL for strings and stopped after one round."""
    pairs = spark.createDataFrame(
        [("docA", "docB"), ("docB", "docC"), ("docX", "docY")],
        "id_a string, id_b string",
    )
    cc = connected_components(pairs)
    got = {r.node: r.component for r in cc.collect()}
    release_caches(cc)
    assert got == {
        "docA": "docA", "docB": "docA", "docC": "docA",
        "docX": "docX", "docY": "docX",
    }


def test_connected_components_long_chain_string_ids(spark):
    """A 6-hop chain needs >1 propagation round — catches any metric that
    false-converges early."""
    chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
    pairs = spark.createDataFrame(chain, "id_a string, id_b string")
    cc = connected_components(pairs)
    got = {r.node: r.component for r in cc.collect()}
    release_caches(cc)
    assert set(got.values()) == {"n0"}


def test_connected_components_path_graph_200(spark):
    """A 200-node path is the adversarial high-diameter case: plain
    min-label propagation needs ~200 rounds (and its unbounded lineage
    OOMed the driver); pointer jumping must close it within the default
    25-round budget."""
    chain = [(i, i + 1) for i in range(199)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    cc = connected_components(pairs)
    got = {r.node: r.component for r in cc.collect()}
    release_caches(cc)
    assert got == {i: 0 for i in range(200)}


def test_connected_components_nonconvergence_raises(spark):
    import pytest as _pytest

    chain = [(i, i + 1) for i in range(8)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)


def test_cluster_representatives_quality_keep(spark):
    """Highest score per component wins; ties break to lowest id;
    unpaired docs are not emitted; n_members counts the whole cluster."""
    from scholarmind_spark.operators.cluster import cluster_representatives

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    scored = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.7),       # cluster {1,2,3} → keep 2
         (10, 0.4), (11, 0.4),               # tie → keep 10
         (20, 0.1), (21, 0.8),               # keep 21
         (99, 1.0)],                          # unpaired → absent
        "doc_id long, score double",
    )
    got = {
        r["component"]: (r["keep"], r["n_members"], r["best_score"])
        for r in cluster_representatives(pairs, scored).collect()
    }
    assert got == {1: (2, 3, 0.9), 10: (10, 2, 0.4), 20: (21, 2, 0.8)}


def test_cluster_representatives_unscored_members_still_count(spark):
    """A member missing from `scored` counts in n_members and sorts after
    scored members; an all-unscored cluster keeps its lowest id."""
    from scholarmind_spark.operators.cluster import cluster_representatives

    pairs = spark.createDataFrame([(1, 2), (5, 6)], "id_a long, id_b long")
    scored = spark.createDataFrame([(2, 0.3)], "doc_id long, score double")
    got = {
        r["component"]: (r["keep"], r["n_members"], r["best_score"])
        for r in cluster_representatives(pairs, scored).collect()
    }
    assert got == {1: (2, 2, 0.3), 5: (5, 2, None)}


def test_connected_components_string_path_needs_several_rounds(spark):
    """A 40-node path over string ids, visited in shuffled order, plus a
    separate pair: the seed round cannot close the path, so the loop's
    change count must keep it going until the labels equal the union-find
    reference — and a one-round budget must still raise."""
    import random

    import pytest as _pytest

    names = [f"v{i:02d}" for i in range(40)]
    random.Random(5).shuffle(names)
    edges = list(zip(names, names[1:])) + [("w0", "w1")]
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    cc = connected_components(pairs)
    got = sorted(tuple(r) for r in cc.collect())
    release_caches(cc)
    assert got == sorted(union_find_reference(edges).items())
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)


def test_shared_components_job_budget(spark):
    """Three fresh-memo reps of ``dedup_cluster_sizes`` on the sf0.001
    fixture, each under its own job group, run the same number of Spark
    jobs: 27 (local[4]), against 40 when the edge list was a self-union
    of the pairs, the seed labels were persisted, a separate digest action
    ran before round 1 and the memo ran its own ``count()``.  Every
    in-memory-cache read the loop plans adds a job, and a varying count
    would fail the benchmark's identical-work check."""
    from test_streaming import SF_DIR  # the sf0.001 tier-1 fixture

    from scholarmind_spark import queries
    from scholarmind_spark.queries import SPARK_QUERIES, reset_shared_components

    sc = spark.sparkContext
    counts, results = [], []
    try:
        for rep in range(3):
            group = f"cc_budget_{rep}"
            sc.setJobGroup(group, group)
            reset_shared_components()
            queries._T_MEMO.clear()  # every rep reads its tables afresh
            df = SPARK_QUERIES["dedup_cluster_sizes"](spark, SF_DIR)
            results.append(df.collect())
            st = sc.statusTracker()
            while st.getActiveJobsIds():
                time.sleep(0.02)
            counts.append(len(st.getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        reset_shared_components()
    assert results[0] == results[1] == results[2]
    assert len(set(counts)) == 1, counts
    assert counts[0] < 40, counts
