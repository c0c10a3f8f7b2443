"""Product quantization: encoding snaps each subvector to its own
subspace codeword, ADC ranks by summed subspace distances, and a
codebook vector queries to its own reconstruction first."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from scholarmind_spark.operators.pq import pq_topk

DIM = 8  # m=2 subspaces of width 4 in these tests


def _df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _q(spark, rows, ids):
    return _df(spark, rows).filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def test_codes_quantize_per_subspace_independently(spark):
    # codebook = vecs 0,1.  vec 2 matches code 0 in subspace 0 and code
    # 1 in subspace 1 — the mixed assignment only PQ (not whole-vector
    # quantization) can represent; its ADC to a query equal to itself
    # must then be the quantization error of zero (it IS representable)
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0, 9.0, 9.0, 9.0, 9.0]),
        (1, [5.0, 5.0, 5.0, 5.0, 1.0, 1.0, 1.0, 1.0]),
        (2, [0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0]),  # cross product
        (3, [5.0, 5.0, 5.0, 5.0, 9.0, 9.0, 9.0, 9.0]),  # other cross
    ]
    df = _df(spark, rows)
    q = _q(spark, rows, [2])
    out = pq_topk(df, q, k=3, m=2, dim=DIM, codebook_ids=[0, 1])
    got = [(r.neighbor_id, r.adc) for r in out.orderBy("rank").collect()]
    # vec 2 reconstructs EXACTLY as (sub0 of 0, sub1 of 1): adc 0 to a
    # corpus row encoded the same way... itself is excluded; vec 0
    # shares sub0 (err 0) and differs in sub1 by the 1→9 gap
    sub_gap_low = 4 * (9.0 - 1.0) ** 2   # 256
    sub_gap_hi = 4 * 5.0 ** 2            # 100
    assert got[0][0] == 1 and got[0][1] == sub_gap_hi
    assert got[1][0] == 0 and got[1][1] == sub_gap_low
    assert got[2][0] == 3 and got[2][1] == sub_gap_low + sub_gap_hi


def test_codebook_vector_reconstructs_exactly(spark):
    rows = [
        (0, [1.0] * 4 + [2.0] * 4),
        (1, [8.0] * 4 + [9.0] * 4),
        (2, [1.0] * 4 + [2.0] * 4),  # duplicate of codeword 0
    ]
    df = _df(spark, rows)
    q = _q(spark, rows, [0])
    out = pq_topk(df, q, k=2, m=2, dim=DIM, codebook_ids=[0, 1])
    top = out.orderBy("rank").collect()[0]
    # vec 2 encodes to codeword 0 in both subspaces → ADC 0 to query 0
    assert top.neighbor_id == 2 and top.adc == 0.0


def test_assignment_tie_prefers_smaller_code(spark):
    # two IDENTICAL codewords: every assignment ties → code 0 wins, and
    # the ranking is unaffected (decoded vectors identical)
    rows = [
        (0, [1.0] * 8),
        (1, [1.0] * 8),
        (2, [1.0] * 8),
        (3, [4.0] * 8),
    ]
    df = _df(spark, rows)
    q = _q(spark, rows, [3])
    out = pq_topk(df, q, k=3, m=2, dim=DIM, codebook_ids=[0, 1])
    rows_out = out.orderBy("rank").collect()
    # all three neighbors decode to the same codeword: equal adc, id
    # ascending tiebreak
    assert [r.neighbor_id for r in rows_out] == [0, 1, 2]
    assert len({r.adc for r in rows_out}) == 1


def test_adc_matches_closed_form(spark):
    rows = [
        (0, [0.0] * 8),
        (1, [3.0] * 8),
        (2, [1.0] * 4 + [2.5] * 4),
    ]
    df = _df(spark, rows)
    q = _q(spark, rows, [2])
    out = pq_topk(df, q, k=2, m=2, dim=DIM, codebook_ids=[0, 1])
    got = {r.neighbor_id: r.adc for r in out.collect()}
    # vec 2 encodes sub0→code 0 (1 vs 0:4 < 1 vs 3:16), sub1→code 1
    # (2.5 vs 3:1 < 2.5 vs 0:25); neighbors decode to their own codes
    # neighbor 0 encodes (0,0): adc = |q_sub0-cw0|² + |q_sub1-cw0|²
    adc_n0 = 4 * 1.0 ** 2 + 4 * 2.5 ** 2
    adc_n1 = 4 * (1.0 - 3.0) ** 2 + 4 * (2.5 - 3.0) ** 2
    assert got[0] == round(adc_n0, 6)
    assert got[1] == round(adc_n1, 6)


def test_sparse_code_ids_decode_correctly(spark):
    # non-contiguous codebook ids (3, 7): the decode is positional, so
    # arbitrary code values must not shift the looked-up codeword
    rows = [
        (3, [1.0] * 8),
        (7, [5.0] * 8),
        (10, [1.1] * 8),   # encodes to codeword(3) in both subspaces
        (11, [4.9] * 8),   # encodes to codeword(7)
    ]
    df = _df(spark, rows)
    q = _q(spark, rows, [10])
    out = pq_topk(df, q, k=3, m=2, dim=DIM, codebook_ids=[3, 7])
    got = {r.neighbor_id: r.adc for r in out.collect()}
    # ADC(q=10, n=3): both subspaces decode to [1.0]*4 → 8 * 0.1²
    assert got[3] == round(8 * 0.1 ** 2, 6)
    # ADC(q=10, n=11): decodes to [5.0]*4 → 8 * 3.9²
    assert got[11] == round(8 * 3.9 ** 2, 6)
    assert got[7] == got[11]


def test_trained_subspace_codebook_path(spark):
    from scholarmind_spark.operators.pq import pq_train

    # two tight clusters per subspace half: training recovers them and
    # the ADC ranking separates the clusters perfectly
    rows = [(i, [0.0 + 0.01 * i] * 4 + [9.0 - 0.01 * i] * 4) for i in range(6)]
    rows += [(100 + i, [5.0 + 0.01 * i] * 4 + [1.0 + 0.01 * i] * 4) for i in range(6)]
    df = _df(spark, rows)
    cb = pq_train(df, m=2, dim=DIM, codes=2, iters=3)
    assert cb.count() == 4  # 2 subspaces x 2 codes
    q = _q(spark, rows, [0])
    out = pq_topk(df, q, k=11, m=2, dim=DIM, subspace_codebook_df=cb)
    ranked = [r.neighbor_id for r in out.orderBy("rank").collect()]
    # the five same-cluster neighbors come before any cross-cluster one
    assert set(ranked[:5]) == {1, 2, 3, 4, 5}


def test_ivfadc_equals_pq_within_probed_cells(spark):
    """The composition claim, load-bearing: IVFADC's ranking equals
    plain PQ/ADC restricted to the residents of the probed cells —
    computed independently via the gated primitives (ivf-style
    assignment in numpy + pq_topk on the full corpus)."""
    import math

    from pyspark.sql import functions as F

    from scholarmind_spark.operators.pq import ivfadc_topk

    # two well-separated regions, a few vectors each + the query
    rows = [(i, [float(i % 3), 1.0 + 0.1 * i, 0.0, 0.0, 9.0, 9.0, 9.0, 9.0])
            for i in range(6)]
    rows += [(100 + i, [50.0 + i, 50.0, 50.0, 50.0, 0.0, 0.0, 1.0, 2.0])
             for i in range(6)]
    df = _df(spark, rows)
    q = _q(spark, rows, [2])
    coarse_ids, cb_ids = [0, 100], [0, 1, 100, 101]
    out = ivfadc_topk(
        df, q, k=4, m=2, dim=DIM, nprobe=1,
        coarse_ids=coarse_ids, codebook_ids=cb_ids,
    )
    got = [(r.neighbor_id, r.adc) for r in out.orderBy("rank").collect()]

    # independent expectation: probe = nearest coarse centroid of query
    # 2 (region A → cell 0); candidates = region-A residents; ranking =
    # pq_topk on the FULL corpus filtered to those candidates
    full = pq_topk(df, q, k=12, m=2, dim=DIM, codebook_ids=cb_ids)
    region_a = {i for i, v in rows if v[0] < 10.0}
    expect = [
        (r.neighbor_id, r.adc)
        for r in full.orderBy("rank").collect()
        if r.neighbor_id in region_a
    ][:4]
    assert got == expect
    assert all(nid in region_a for nid, _ in got)


def test_ivfadc_nprobe_widens_candidates(spark):
    from scholarmind_spark.operators.pq import ivfadc_topk

    rows = [(i, [0.0 + i, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]) for i in range(4)]
    rows += [(100 + i, [50.0 + i, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])
             for i in range(4)]
    df = _df(spark, rows)
    q = _q(spark, rows, [0])
    kw = dict(k=8, m=2, dim=DIM, coarse_ids=[0, 100], codebook_ids=[0, 100])
    near_only = ivfadc_topk(df, q, nprobe=1, **kw)
    both = ivfadc_topk(df, q, nprobe=2, **kw)
    assert near_only.count() == 3          # own cell minus self
    assert both.count() == 7               # all minus self


def test_ivfadc_residual_exact_on_representable_corpus(spark):
    """by_residual=True with a residual-space codebook: residents whose
    residuals ARE codewords reconstruct exactly, so the query's ADC to
    them equals the true squared-L2 of the residual difference."""
    from pyspark.sql import functions as F

    from scholarmind_spark.operators.pq import ivfadc_topk

    # cell centroids at 0 and 100; residents sit at centroid + known
    # residual patterns
    rows = [
        (0, [0.0] * 8),                      # coarse centroid A
        (1, [100.0] * 8),                    # coarse centroid B
        (2, [1.0] * 8),                      # residual +1 in cell A
        (3, [2.0] * 8),                      # residual +2 in cell A
        (4, [101.0] * 8),                    # residual +1 in cell B
    ]
    df = _df(spark, rows)
    q = _q(spark, rows, [2])
    cb = spark.createDataFrame(
        [(s, c, [float(v)] * 4) for s in range(2) for c, v in [(0, 0.0), (1, 1.0), (2, 2.0)]],
        "sub int, code long, cw array<double>",
    )
    out = ivfadc_topk(
        df, q, k=4, m=2, dim=DIM, nprobe=1,
        coarse_ids=[0, 1], subspace_codebook_df=cb, by_residual=True,
    )
    got = {r.neighbor_id: r.adc for r in out.collect()}
    # query 2's residual is +1; resident 0 has residual 0 (it IS the
    # centroid): ADC = 8*(1-0)^2; resident 3 residual +2: ADC = 8*(1-2)^2
    assert got[0] == round(8 * 1.0, 6)
    assert got[3] == round(8 * 1.0, 6)
    # only cell-A residents scored at nprobe=1
    assert set(got) == {0, 3}


def test_ivfadc_residual_encoded_once_per_row(spark):
    """Residual mode computes each vector's residual once before its m
    subspace encodes: its surplus of ``zip_with`` over raw mode in the
    executed plan does not grow with m."""
    from scholarmind_spark.operators.pq import ivfadc_topk

    rows = [
        (i, [float((i * 7 + j * 3) % 5) - 2.0 + 40.0 * (i % 2) for j in range(DIM)])
        for i in range(16)
    ]
    df = _df(spark, rows)
    q = _q(spark, rows, [0, 1])

    def zip_withs(m, by_residual):
        out = ivfadc_topk(
            df, q, k=3, m=m, dim=DIM, coarse_ids=[0, 1],
            codebook_ids=[0, 1, 2, 3], by_residual=by_residual,
        )
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        return plan.count("zip_with")

    surplus = {m: zip_withs(m, True) - zip_withs(m, False) for m in (2, 4)}
    assert surplus[2] == surplus[4]


def test_ivfadc_residual_beats_raw_on_clustered_corpus(spark):
    """The paper's reason for residual encoding, measured: on a
    2-cluster corpus with a shared within-cluster shape, the same code
    budget ranks strictly better under by_residual=True (raw codewords
    must span cluster offsets; residual codewords only span the shape)."""
    import numpy as np
    from pyspark.sql import functions as F

    from scholarmind_spark.operators.pq import (
        ivfadc_topk,
        pq_train,
        pq_train_residual,
    )

    rng = np.random.default_rng(7)
    centers = [np.zeros(8), np.full(8, 60.0)]
    rows = []
    vid = 0
    for c in centers:
        for _ in range(20):
            rows.append((vid, (c + rng.normal(0, 1.0, 8)).tolist()))
            vid += 1
    df = _df(spark, rows)
    q = _q(spark, rows, [0])
    coarse = spark.createDataFrame(
        [(0, centers[0].tolist()), (1, centers[1].tolist())],
        "cid long, cvec array<double>",
    )
    ids = np.array([r[0] for r in rows])
    V = np.array([r[1] for r in rows])
    qv = V[0]
    d2 = ((V - qv) ** 2).sum(axis=1)
    exact = [int(ids[i]) for i in np.lexsort((ids, d2)) if ids[i] != 0][:5]

    def recall(out):
        got = [r.neighbor_id for r in out.orderBy("rank").collect()]
        return len(set(got[:5]) & set(exact)) / 5

    kw = dict(k=5, m=2, dim=DIM, nprobe=1, coarse_df=coarse)
    raw_cb = pq_train(df, m=2, dim=DIM, codes=4, iters=4)
    res_cb = pq_train_residual(df, coarse, m=2, dim=DIM, codes=4, iters=4)
    r_raw = recall(ivfadc_topk(df, q, subspace_codebook_df=raw_cb, **kw))
    r_res = recall(
        ivfadc_topk(df, q, subspace_codebook_df=res_cb, by_residual=True, **kw)
    )
    assert r_res >= r_raw
    assert r_res >= 0.6


def test_malformed_codeword_width_raises(spark):
    """A codebook row whose vector is the wrong width must refuse
    loudly — short slices would NULL-poison _sq's zip_with and the
    ranking silently returns garbage (r13 ADVICE)."""
    import pytest

    rows = [
        (0, [1.0] * 8),
        (1, [2.0] * 8),
        (2, [3.0] * 8),
    ]
    df = _df(spark, rows)
    q = _q(spark, rows, [2])

    # subspace form: cw shorter than dim/m
    bad_sub = spark.createDataFrame(
        [(0, 0, [1.0] * 4), (0, 1, [2.0] * 4),
         (1, 0, [1.0] * 3), (1, 1, [2.0] * 4)],  # sub 1 code 0 short
        "sub int, code long, cw array<double>",
    )
    with pytest.raises(ValueError, match="codeword width"):
        pq_topk(df, q, k=2, m=2, dim=DIM, subspace_codebook_df=bad_sub)

    # full-vector form: codebook vector shorter than dim
    bad_full = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [2.0] * 7)],
        "code long, cvec array<double>",
    )
    with pytest.raises(ValueError, match="vector length"):
        pq_topk(df, q, k=2, m=2, dim=DIM, codebook_df=bad_full)


def test_pq_train_exact_integer_micro_means(spark):
    """pq_train_exact == hand-computed integer-micro means under the
    id % codes assignment — the engine-exact trainer the ann_pq_trained
    gate derives in DuckDB; and its codebook drops into pq_topk's
    subspace form."""
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0, 10.0, 10.0, 10.0, 10.0]),
        (1, [5.0, 5.0, 5.0, 5.0, 0.0, 0.0, 0.0, 0.0]),
        (2, [2.0, 3.0, 4.0, 5.0, 20.0, 20.0, 20.0, 20.0]),
        (3, [7.0, 7.0, 7.0, 7.0, 2.0, 2.0, 2.0, 2.0]),
    ]
    from scholarmind_spark.operators.pq import pq_train_exact

    cb = pq_train_exact(_df(spark, rows), m=2, dim=DIM, codes=2)
    got = {
        (r.sub, r.code): list(r.cw) for r in cb.collect()
    }
    # code 0 <- ids 0, 2; code 1 <- ids 1, 3; means exact in micro units
    assert got[(0, 0)] == [1.5, 2.5, 3.5, 4.5]
    assert got[(1, 0)] == [15.0, 15.0, 15.0, 15.0]
    assert got[(0, 1)] == [6.0, 6.0, 6.0, 6.0]
    assert got[(1, 1)] == [1.0, 1.0, 1.0, 1.0]

    out = pq_topk(
        _df(spark, rows), _q(spark, rows, [0]), k=1, m=2, dim=DIM,
        subspace_codebook_df=cb,
    )
    assert out.count() == 1


def test_pq_train_exact_negative_ids_match_duckdb(spark):
    """Engine parity on NEGATIVE ids: pq_train_exact assigns with
    pmod(id, codes) while DuckDB's % truncates toward zero (-3 % 5 =
    -3), so the oracle spells ((id % c) + c) % c — this pins that both
    engines put a negative id on the same code (the ADVICE-flagged
    silent divergence)."""
    import duckdb
    import pandas as pd

    from scholarmind_spark.operators.pq import MICRO, pq_train_exact

    rows = [
        (-3, [1.0, 2.0, 3.0, 4.0, 10.0, 10.0, 10.0, 10.0]),
        (-1, [5.0, 5.0, 5.0, 5.0, 0.0, 0.0, 0.0, 0.0]),
        (0, [2.0, 3.0, 4.0, 5.0, 20.0, 20.0, 20.0, 20.0]),
        (4, [7.0, 7.0, 7.0, 7.0, 2.0, 2.0, 2.0, 2.0]),
    ]
    codes, w = 2, 4
    cb = pq_train_exact(_df(spark, rows), m=2, dim=DIM, codes=codes)
    got = {(r.sub, r.code): list(r.cw) for r in cb.collect()}
    # pmod: -3 -> 1, -1 -> 1, 0 -> 0, 4 -> 0 (DuckDB bare % gives -1/-1)
    assert set(r[1] for r in got) == {0, 1}

    con = duckdb.connect()
    con.register(
        "t", pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    oracle = con.execute(f"""
        WITH cbq AS (
          SELECT ((vec_id::BIGINT % {codes}) + {codes}) % {codes} AS code,
                 list_transform(embedding,
                   v -> round(v::DOUBLE * {MICRO})::BIGINT) AS e
          FROM t
        ),
        cbc AS (
          SELECT code, i.i AS j, e[i.i] AS v
          FROM cbq, unnest(range(1, len(e) + 1)) AS i(i)
        ),
        cbm AS (
          SELECT code, j, sum(v)::BIGINT // count(*)::BIGINT AS c
          FROM cbc GROUP BY code, j
        )
        SELECT ((j - 1) // {w})::INT AS sub, code,
               list(c::DOUBLE / {MICRO}.0 ORDER BY j) AS cw
        FROM cbm GROUP BY 1, 2
    """).fetchall()
    want = {(r[0], r[1]): list(r[2]) for r in oracle}
    assert got == want


def test_refine_reranks_candidates_exactly(spark):
    """IVFADC+R: every cell-0 resident encodes to the SAME codes (ADC
    ties for all of them, id-order fallback), but exact distances
    differ — the refine stage must reorder by exact squared-L2 while
    drawing only from the ADC candidate set."""
    from pyspark.sql import Row

    from scholarmind_spark.operators.pq import ivfadc_refine_topk, ivfadc_topk

    rows = [
        (0, [0.0] * 8),                                   # codeword/coarse 0
        (1, [10.0] * 8),                                  # codeword/coarse 1
        (2, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),    # encodes (0,0)
        (3, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),    # encodes (0,0)
    ]
    df = _df(spark, rows)
    q = spark.createDataFrame(
        [Row(query_id=9, query_vec=[0.0, 2.0] + [0.0] * 6)]
    )
    common = dict(
        m=2, dim=DIM, nprobe=1, coarse_ids=[0, 1], codebook_ids=[0, 1]
    )
    adc = [r.neighbor_id for r in ivfadc_topk(df, q, k=4, **common)
           .orderBy("rank").collect()]
    assert adc == [0, 2, 3]  # all-ADC-tied, id order
    ref = ivfadc_refine_topk(df, q, k=4, rerank=4, **common).orderBy("rank")
    got = [(r.neighbor_id, r.dist) for r in ref.collect()]
    # exact distances: 3 -> 1, 0 -> 4, 2 -> 5
    assert got == [(3, 1.0), (0, 4.0), (2, 5.0)]
    # refine never surfaces anything outside the candidate set
    assert {n for n, _ in got} <= set(adc)
