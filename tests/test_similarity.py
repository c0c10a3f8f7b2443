"""Self-scaling LSH bucket space for embedding near-dup (derive_planes),
and the top-k contract every ANN ranker shares (``rank_topk``)."""

from __future__ import annotations

import pytest

from scholarmind_spark.operators.similarity import (
    LSH_PLANES,
    derive_planes,
    embedding_neardup_pairs,
)
from scholarmind_spark.util import release_caches

SF001 = "/root/testdata/sf0.001"


def test_derive_planes_floor_and_growth():
    # small corpora stay at the default bucket space
    assert derive_planes(100) == LSH_PLANES
    assert derive_planes(2_000) == LSH_PLANES
    # past the floor, planes grow with log2(n / target_bucket_rows):
    # expected bucket size n/2^b stays ~target, so candidate volume
    # (n/2^b)*n stays linear in n
    assert derive_planes(16_000) == 9
    assert derive_planes(1_600_000) == 16
    # ~10 more planes per 1000x corpus growth
    assert derive_planes(1_600_000_000) == 26


def test_derive_planes_monotone():
    prev = 0
    for n in (10, 1_000, 10_000, 100_000, 10_000_000, 10_000_000_000):
        b = derive_planes(n)
        assert b >= prev
        prev = b


def test_neardup_default_planes_matches_explicit_derivation(spark):
    """planes=None must behave exactly like passing derive_planes(n)
    explicitly — the plumbing (approx_count_distinct probe → plane count)
    adds no nondeterminism."""
    e = spark.read.parquet(f"{SF001}/embeddings.parquet")
    n = e.count()
    auto = embedding_neardup_pairs(e, threshold=0.25)
    rows_auto = {(r.id_a, r.id_b, r.cosine) for r in auto.collect()}
    release_caches(auto)
    explicit = embedding_neardup_pairs(e, threshold=0.25, planes=derive_planes(n))
    rows_explicit = {(r.id_a, r.id_b, r.cosine) for r in explicit.collect()}
    release_caches(explicit)
    assert rows_auto == rows_explicit
    assert len(rows_auto) > 0


def test_zero_norm_vectors_never_rank(spark):
    """A zero vector has no direction: its cosine is 0/0 = NaN, and NaN
    sorts GREATEST in Spark — without the norm guard it would be every
    query's #1 neighbor (r6 review finding)."""
    from scholarmind_spark.operators.similarity import cosine_topk

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0]), (4, [0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 1").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    got = cosine_topk(df, q, k=3).collect()
    neighbors = [r["neighbor_id"] for r in got]
    assert 3 not in neighbors  # zero vector excluded entirely
    assert neighbors[0] == 2  # real nearest ranks first
    assert all(r["cosine"] == r["cosine"] for r in got)  # no NaN emitted


def test_sql_twins_reject_empty_query_ids():
    from scholarmind_spark.operators.similarity import (
        ann_lsh_topk_sql,
        cosine_topk_sql,
        ivf_topk_sql,
    )

    for fn in (cosine_topk_sql, ann_lsh_topk_sql, ivf_topk_sql):
        with pytest.raises(ValueError, match="non-empty"):
            fn(query_ids=[])
        with pytest.raises(ValueError, match="non-empty"):
            fn()


# ---- the shared top-k contract.  Every vector is a power-of-two
# multiple of ONE direction, so all cosines tie EXACTLY (scaling by 2 is
# exact in IEEE), every LSH table co-buckets everything, and one coarse
# cell holds the corpus: each query's candidates are the other 7 ids.
# Duplicates tie exactly on every distance as well.
_DIR = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
_SCALES = [1, 2, 1, 4, 2, 1, 4, 2]  # id -> multiple of _DIR


def _topk_state(spark, df, q, k, tmp_path):
    from scholarmind_spark.streaming.pipeline import (
        _vector_ingest_fn,
        ann_state_query,
    )

    state = str(tmp_path / "state")
    # a re-delivered batch 0 is a no-op, so every k reads one state
    _vector_ingest_fn(
        state, "cafebabe", m=2, dim=8, coarse_ids=[0], codebook_ids=[0, 1, 3]
    )(df, 0)
    return ann_state_query(spark, state, q, k=k, nprobe=1)


def _topk_cases():
    from scholarmind_spark.operators.pq import ivfadc_topk, pq_topk
    from scholarmind_spark.operators.similarity import (
        ann_lsh_topk,
        cosine_topk,
        ivf_topk,
    )

    pq_kw = dict(m=2, dim=8, codebook_ids=[0, 1, 3])
    return {
        "cosine_topk": (True, lambda s, d, q, k, t: cosine_topk(d, q, k=k)),
        "ann_lsh_topk": (
            True, lambda s, d, q, k, t: ann_lsh_topk(d, q, k=k, dim=8)
        ),
        "ivf_topk": (
            True,
            lambda s, d, q, k, t: ivf_topk(d, q, k=k, centroid_ids=[0], nprobe=1),
        ),
        "pq_topk": (False, lambda s, d, q, k, t: pq_topk(d, q, k=k, **pq_kw)),
        "ivfadc_topk": (
            False,
            lambda s, d, q, k, t: ivfadc_topk(
                d, q, k=k, nprobe=1, coarse_ids=[0], **pq_kw
            ),
        ),
        "ann_state_query": (False, _topk_state),
    }


@pytest.mark.parametrize(
    "name",
    ["cosine_topk", "ann_lsh_topk", "ivf_topk", "pq_topk", "ivfadc_topk",
     "ann_state_query"],
)
def test_topk_ties_rank_lower_neighbor_first(spark, tmp_path, name):
    """Equal scores rank the LOWER neighbor_id first, the score order is
    ascending for distances and descending for cosine, ranks run 1..n,
    and each query returns min(k, candidates) rows."""
    descending, run = _topk_cases()[name]
    df = spark.createDataFrame(
        [(i, [x * c for x in _DIR]) for i, c in enumerate(_SCALES)],
        "vec_id long, embedding array<double>",
    )
    q = df.filter("vec_id IN (0, 3)").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    candidates = len(_SCALES) - 1
    for k in (3, 20):
        rows = run(spark, df, q, k, tmp_path).collect()
        for qid in (0, 3):
            got = sorted((r for r in rows if r[0] == qid), key=lambda r: r[3])
            assert [r[3] for r in got] == list(range(1, min(k, candidates) + 1))
            sign = -1 if descending else 1
            want = sorted(got, key=lambda r: (sign * r[2], r[1]))
            assert [r[1] for r in got] == [r[1] for r in want]
            # the corpus really exercises the tiebreak
            assert len({r[2] for r in got}) < len(got)
