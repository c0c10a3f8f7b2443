"""Product quantization ANN (Jégou, Douze, Schmid 2011, "Product
Quantization for Nearest Neighbor Search") — the memory-side scale path
of the ANN family: vectors are split into ``m`` subvectors, each
subvector is quantized to one of ``codes`` codewords in ITS OWN
subspace codebook, and a vector is stored as ``m`` small integers (8
bytes at m=8, codes≤256 — a 32× compression of a 64-dim float vector).
Queries rank candidates by ADC (asymmetric distance computation): the
UNQUANTIZED query subvector's squared-L2 to each stored code's
codeword, summed over subspaces — the paper's Eq. 12.

Where it sits in the family: ``cosine_topk`` is the exact scan,
``ann_lsh_topk``/``ivf_topk`` prune WHICH vectors are scored; PQ
compresses WHAT is scored — at 100 TB the encoded corpus (bytes/vector)
fits executor memory where the raw floats cannot, and IVF×PQ composes
(probe cells, then ADC within) exactly as in the paper's IVFADC.

Spark-first shape:

- the codebook is ``codes`` corpus rows by contract (deterministic-
  subset device of the IVF/semdedup gates, so the DuckDB oracle
  reproduces the training set; a k-means-per-subspace codebook drops in
  via ``codebook_df`` without changing the plan shape) — collected once
  and inlined as plan literals, so ENCODING IS A PURE PROJECTION: per
  row, m independent argmins over codes codewords, no join, no shuffle;
- ADC scoring joins the encoded corpus against the broadcast query set
  and decodes each code from the same literals — m element_at lookups
  + m×(dim/m) subtract-squares per pair, identical flops to one full
  d-dim distance, on a corpus that now lives in m bytes/row;
- top-k is one query-partitioned window over per-pair scalars
  (``similarity.rank_topk``, the whole ANN family's top-k step).

IVFADC is written once, as stages: coarse codebook, cell encode
(:func:`_encode_cells`), probe selection (:func:`_probe_cells`), ADC
ranking (:func:`_adc_rank`) and the exact rerank (:func:`_exact_rerank`).
:func:`ivfadc_topk`/:func:`ivfadc_refine_topk` run them over a corpus;
the streaming index state (``streaming.pipeline.stream_vector_ingest``,
``ann_state_query``, ``ann_state_query_refined``) encodes, queries and
refines through the same stages over its stored codes.

Honesty: ADC distance is an APPROXIMATION of the true distance (the
quantization error is the paper's whole trade); the gate pins the
APPROXIMATE ranking bit-for-bit against the oracle, and
``tools/ann_recall.py pq`` measures recall@10 against the exact scan —
approximation quality is a MEASURED number, not an assertion.

Assignment ties break lexicographic (d, code) — smaller code on exact
ties, mirrored in the SQL twin.  Zero-norm rows are NOT special here
(L2 quantization is defined for them), matching the paper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scholarmind_spark.operators.kmeans import _assign, kmeans_fit
from scholarmind_spark.operators.similarity import rank_topk


def _sq(a, b):
    """Σ (a_i − b_i)² left-to-right — the semdedup float discipline."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) ** 2),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _resolve_sub_rows(
    df, id_col, vec_col, m, w,
    codebook_ids, codebook_df, subspace_codebook_df,
):
    """Resolve whichever codebook form the caller passed into the
    per-subspace ``[(code, cw), ...]`` lists (value-sorted).  A
    ``(sub, code, cw)`` table with ``m``/``w`` None states its own
    geometry: m = its count of subspaces, w = its codeword length — how
    an index state's frozen codebook is read (:func:`_subspace_codebook`)."""
    if subspace_codebook_df is not None:
        rows = subspace_codebook_df.collect()
        if not rows:
            raise ValueError("pq: empty codebook")
        if m is None:
            m = len({int(r["sub"]) for r in rows})
            w = len(rows[0]["cw"])
        by_sub: dict[int, list[tuple[int, list[float]]]] = {}
        for r in rows:
            cw = [float(x) for x in r["cw"]]
            # width guard: a short/long codeword would make _sq's
            # zip_with emit NULL-poisoned distances downstream —
            # silently NULL-ranked garbage instead of an error
            if len(cw) != w:
                raise ValueError(
                    f"pq: codeword width {len(cw)} != dim/m = {w} "
                    f"(sub {int(r['sub'])}, code {int(r['code'])})"
                )
            by_sub.setdefault(int(r["sub"]), []).append((int(r["code"]), cw))
        missing = [s for s in range(m) if not by_sub.get(s)]
        if missing:
            raise ValueError(f"pq: no codewords for subspaces {missing}")
        return [sorted(by_sub[s]) for s in range(m)]
    if codebook_df is None:
        ids = codebook_ids if codebook_ids is not None else list(range(16))
        codebook_df = df.filter(F.col(id_col).isin(ids)).select(
            F.col(id_col).cast("long").alias("code"),
            F.col(vec_col).alias("cvec"),
        )
    cb_rows = sorted(
        ((int(r["code"]), [float(x) for x in r["cvec"]])
         for r in codebook_df.collect()),
    )
    if not cb_rows:
        raise ValueError("pq: empty codebook")
    for code, v in cb_rows:
        # full-vector form: every slice below assumes exactly m*w values
        if len(v) != m * w:
            raise ValueError(
                f"pq: codebook vector length {len(v)} != dim = {m * w} "
                f"(code {code})"
            )
    return [
        [(code, v[s * w : (s + 1) * w]) for code, v in cb_rows]
        for s in range(m)
    ]


def _build_sub_lits(sub_rows):
    """Per-subspace literal codeword tables: sub s → ONE
    ``array<array<double>>`` Literal of the codes codewords, value-
    sorted.  A codeword's CODE is its POSITION in the table (not the
    caller's code id), so the ADC decode is an element_at by position —
    which must hold for ARBITRARY code ids (a trained codebook's cids,
    a corpus subset's sparse vec_ids) — and the positional (d, pos)
    argmin breaks ties exactly like the SQL twin's ORDER BY d,
    code-value.  r15: one nested Literal node per subspace instead of
    codes × (1 + w) ``F.lit``/CreateArray/CreateStruct nodes — the old
    tree put >1k expression nodes per subspace through every analyzer/
    optimizer pass, and per-call PLANNING (re-paid on every query
    construction) dominated the ANN family's measured cost."""
    return [
        F.lit([[float(x) for x in cw] for _code, cw in rows_s])
        for rows_s in sub_rows
    ]


def _subspace_codebook(cb, m=None, w=None):
    """``(sub_lits, m, w)`` of a ``(sub, code, cw)`` table; ``m``/``w``
    None take the table's own geometry."""
    rows = _resolve_sub_rows(None, None, None, m, w, None, None, cb)
    return _build_sub_lits(rows), len(rows), len(rows[0][0][1])


def _argmin_code(sub_lits, vec, s, w):
    # outer 1-element transform LET-BINDS the subvector slice: a lambda
    # closing over F.slice(vec, ...) re-evaluates the slice once per
    # CODEWORD (the higher-order-function capture cost measured on the
    # shingle family); binding it through `sub` slices once per row.
    # The inner two-arg lambda's index IS the positional code.
    return F.transform(
        F.array(F.slice(vec, s * w + 1, w)),
        lambda sub: F.array_min(
            F.transform(
                sub_lits[s],
                lambda c, i: F.struct(
                    _sq(sub, c).alias("d"), i.alias("code")
                ),
            )
        )["code"],
    )[0]


def _encode_expr(sub_lits, vec, m, w):
    """m independent argmins — (d, code) lexicographic via array_min."""
    return F.array(*[_argmin_code(sub_lits, vec, s, w) for s in range(m)])


def _adc_expr(sub_lits, qvec, pq, m, w):
    """ADC: decode each stored code from the literal table and
    accumulate the query subvector's squared-L2 to it, left-to-right
    over subspaces (fixed order → engine-exact float parity)."""
    adc = None
    for s in range(m):
        cw = F.element_at(sub_lits[s], F.element_at(pq, s + 1) + 1)
        term = _sq(F.slice(qvec, s * w + 1, w), cw)
        adc = term if adc is None else adc + term
    return adc


def pq_topk(
    df: DataFrame,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    codebook_ids: list[int] | None = None,
    codebook_df: DataFrame | None = None,
    subspace_codebook_df: DataFrame | None = None,
) -> DataFrame:
    """``query_id, neighbor_id, adc, rank`` — PQ/ADC approximate top-k
    by ascending asymmetric squared-L2.  Codebook, most-general first:

    - ``subspace_codebook_df`` (``sub int, code long, cw array`` — one
      row per (subspace, codeword)): the true PQ form, independently
      trained per subspace (:func:`pq_train`);
    - ``codebook_df`` (``code long, cvec array`` full-dim rows whose m
      slices are the codewords);
    - ``codebook_ids`` rows of ``df`` (default ids 0..15) — the
      deterministic corpus-subset device the DuckDB oracle mirrors.

    Every form is m×codes rows by contract, collected once and inlined
    as plan literals (encoding stays a pure projection)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m
    sub_rows = _resolve_sub_rows(
        df, id_col, vec_col, m, w,
        codebook_ids, codebook_df, subspace_codebook_df,
    )
    sub_lits = _build_sub_lits(sub_rows)
    enc = df.select(
        F.col(id_col), _encode_expr(sub_lits, F.col(vec_col), m, w).alias("pq")
    )
    q = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qvec"),
    )
    adc = _adc_expr(sub_lits, F.col("qvec"), F.col("pq"), m, w)
    scored = (
        enc.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), adc.alias("adc_raw"))
    )
    return rank_topk(scored, "adc_raw", k, "adc")


def pq_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    codebook_ids: list[int] | None = None,
) -> str:
    """DuckDB twin of :func:`pq_topk` under the corpus-subset codebook
    (same slices, same (d, code) assignment tiebreak, same subspace
    accumulation order)."""
    if not query_ids:
        raise ValueError("query_ids must be a non-empty list")
    w = dim // m
    qids = ", ".join(str(i) for i in query_ids)
    cids = ", ".join(str(i) for i in (codebook_ids or range(16)))

    def sq(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}),"
            " p -> (p[1]::DOUBLE - p[2]::DOUBLE)"
            " * (p[1]::DOUBLE - p[2]::DOUBLE)))"
        )

    sub = lambda col, s: f"list_slice({col}, {s * w + 1}, {(s + 1) * w})"  # noqa: E731
    assigns = []
    for s in range(m):
        assigns.append(f"""
 a{s} AS (
   SELECT id, code FROM (
     SELECT e.id, c.code,
            row_number() OVER (PARTITION BY e.id
              ORDER BY {sq(sub('e.v', s), sub('c.cvec', s))}, c.code) AS rn
     FROM corpus e CROSS JOIN cb c
   ) WHERE rn = 1
 )""")
    adc_terms = " + ".join(
        sq(sub("q.qvec", s), sub(f"c{s}.cvec", s)) for s in range(m)
    )
    code_joins = "".join(
        f"\n   JOIN a{s} ON a{s}.id = e.id JOIN cb c{s} ON c{s}.code = a{s}.code"
        for s in range(m)
    )
    return f"""
(WITH corpus AS (SELECT {id_col} AS id, {vec_col} AS v FROM {table}),
 cb AS (
   SELECT {id_col}::BIGINT AS code, {vec_col} AS cvec FROM {table}
   WHERE {id_col} IN ({cids})
 ),{",".join(assigns)},
 q AS (
   SELECT {id_col} AS query_id, {vec_col} AS qvec FROM {table}
   WHERE {id_col} IN ({qids})
 ),
 scored AS (
   SELECT q.query_id, e.id AS neighbor_id, {adc_terms} AS adc_raw
   FROM corpus e{code_joins}
   CROSS JOIN q
   WHERE e.id <> q.query_id
 )
 SELECT query_id, neighbor_id, round(adc_raw, 6) AS adc, rank FROM (
   SELECT query_id, neighbor_id, adc_raw,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY adc_raw ASC, neighbor_id ASC) AS rank
   FROM scored
 ) WHERE rank <= {k})"""


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    codes: int = 16,
    iters: int = 5,
) -> DataFrame:
    """Train the per-subspace PQ codebooks — m INDEPENDENT k-means over
    the corpus's subvector slices (the paper's training step) — and
    return ``(sub, code, cw)`` for :func:`pq_topk`'s
    ``subspace_codebook_df``.

    Shape note: the loop below is over ``m`` (a plan constant, the same
    status as the operator's m literal tables — NOT a data-dependent
    driver loop); each iteration is one :func:`operators.kmeans.
    kmeans_fit` job over a projected (id, subvector) corpus.  The m jobs
    are independent — on a shared cluster they can be submitted
    concurrently; sequentially they cost m × one k-means, each of which
    is the linear-scan Lloyd the kmeans gates certify."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m
    spark = df.sparkSession
    out_rows = []
    for s in range(m):
        sub = df.select(
            F.col(id_col).alias("vec_id"),
            F.slice(F.col(vec_col), s * w + 1, w).alias("embedding"),
        )
        cents, _ = kmeans_fit(sub, k=codes, iters=iters)
        for r in cents.collect():  # codes rows by kmeans_fit contract
            out_rows.append((s, int(r["cid"]), [float(x) for x in r["cvec"]]))
    return spark.createDataFrame(
        out_rows, "sub int, code long, cw array<double>"
    )


def ivfadc_topk(
    df: DataFrame,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    nprobe: int = 2,
    coarse_df: DataFrame | None = None,
    coarse_ids: list[int] | None = None,
    codebook_ids: list[int] | None = None,
    codebook_df: DataFrame | None = None,
    subspace_codebook_df: DataFrame | None = None,
    by_residual: bool = False,
) -> DataFrame:
    """IVFADC (Jégou et al. §5): the coarse quantizer (L2, the
    ``kmeans._assign`` device) routes every vector to an inverted list;
    a query probes its ``nprobe`` nearest cells and ADC-ranks ONLY the
    residents — the composition the module docstring promises, as one
    operator.  Candidate volume is Σ probed-cell sizes instead of the
    corpus; the encoded residents are still m ints each.

    ``by_residual`` picks the encoding (both Faiss variants exist here):

    - False (default): encode RAW vectors — the PQ codes are coarse-
      cell-independent (one code table serves any routing; Faiss
      ``by_residual=false``).  Pinned by
      ``test_ivfadc_equals_pq_within_probed_cells``: the ranking equals
      plain :func:`pq_topk` restricted to the probed candidates.
    - True: encode RESIDUALS (vector − its cell centroid) — the paper's
      §5 recipe; residuals are smaller than raw vectors wherever the
      coarse quantizer captures structure, so the same code budget
      quantizes finer.  The query side compares (query − PROBED cell
      centroid) against resident codes, per probe — two extra broadcast
      joins of the k-row coarse table, nothing data-sized.  Recall
      lift measured in round 13 (0.245 → 0.275 at m8/c64 on sf0.1);
      ``test_ivfadc_residual_beats_raw_on_clustered_corpus`` pins the
      ordering.

    ``coarse_df`` (``cid, cvec``) or ``coarse_ids`` corpus rows (default
    0..3) form the coarse codebook — broadcast, (d, cid) argmin ties.

    The operator is its four stages in sequence — coarse codebook,
    :func:`_encode_cells`, :func:`_probe_cells`, :func:`_adc_rank` — the
    same stages the streaming index state encodes and queries through."""
    coarse_df = _coarse_codebook(df, id_col, vec_col, coarse_df, coarse_ids)
    w = dim // m
    sub_lits = _build_sub_lits(_resolve_sub_rows(
        df, id_col, vec_col, m, w,
        codebook_ids, codebook_df, subspace_codebook_df,
    ))
    data = _encode_cells(
        df, coarse_df, sub_lits, m, w, id_col, vec_col, by_residual
    )
    probes = _probe_cells(
        queries_df, coarse_df, nprobe, by_residual, query_id_col, query_vec_col
    )
    return _adc_rank(data, probes, sub_lits, m, w, k, id_col)


def _coarse_codebook(df, id_col, vec_col, coarse_df=None, coarse_ids=None):
    """``(cid, cvec)``: ``coarse_df`` as given, else the ``coarse_ids``
    rows of ``df`` (default 0..3)."""
    if coarse_df is not None:
        return coarse_df.select("cid", "cvec")
    cids = coarse_ids if coarse_ids is not None else list(range(4))
    return df.filter(F.col(id_col).isin(cids)).select(
        F.col(id_col).cast("long").alias("cid"),
        F.col(vec_col).alias("cvec"),
    )


def _residual(v, c):
    """``v − c`` elementwise, subtracted as DOUBLE — the one residual
    every IVFADC encoding, probe and residual training computes."""
    return F.zip_with(v, c, lambda x, y: x.cast("double") - y.cast("double"))


def _route(df, coarse, id_col, vec_col, by_residual):
    """Route every vector to its nearest coarse cell (``_assign``) and
    return ``(routed, enc_in)``: the routed relation and the vector to
    encode — the raw vector, or its residual against the routed cell's
    centroid (one broadcast join of the k-row coarse table)."""
    routed = _assign(df, coarse, id_col, vec_col)
    if not by_residual:
        return routed, F.col(vec_col)
    routed = routed.join(F.broadcast(coarse), routed["cell"] == coarse["cid"])
    return routed, _residual(F.col(vec_col), F.col("cvec"))


def _encode_cells(df, coarse, sub_lits, m, w, id_col, vec_col, by_residual):
    """IVFADC cell-encode stage: ``id_col, cell, pq`` — each vector
    routed to its coarse cell, then PQ-encoded (raw or residual)."""
    routed, enc_in = _route(df, coarse, id_col, vec_col, by_residual)
    if by_residual:
        # let-bind the residual (the _argmin_code device): the m
        # per-subspace slices would each re-evaluate its zip_with
        pq = F.transform(
            F.array(enc_in), lambda r: _encode_expr(sub_lits, r, m, w)
        )[0]
    else:
        pq = _encode_expr(sub_lits, enc_in, m, w)
    return routed.select(
        id_col,
        F.col("cell").cast("long").alias("cell"),
        pq.alias("pq"),
    )


def _probe_cells(
    queries_df, coarse, nprobe, by_residual=False,
    query_id_col="query_id", query_vec_col="query_vec",
):
    """IVFADC probe-selection stage: ``query_id, qvec, cell`` — each
    query's ``nprobe`` nearest coarse cells by (distance, cell), the
    coarse assignment's tiebreak.  In residual mode ``qvec`` is the
    query's residual against the PROBED cell's centroid, per probe — the
    paper's per-inverted-list distance tables."""
    q = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qvec"),
    )
    qs = q.crossJoin(F.broadcast(coarse)).select(
        "query_id", "qvec", F.col("cid").cast("long").alias("cell"),
        _sq(F.col("qvec"), F.col("cvec")).alias("cd"),
    )
    pw = Window.partitionBy("query_id").orderBy("cd", "cell")
    probes = (
        qs.withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qvec", "cell")
    )
    if not by_residual:
        return probes
    return probes.join(
        F.broadcast(coarse), probes["cell"] == coarse["cid"]
    ).select(
        "query_id", _residual(F.col("qvec"), F.col("cvec")).alias("qvec"), "cell"
    )


def _adc_rank(data, probes, sub_lits, m, w, k, id_col):
    """IVFADC ADC-ranking stage: the probed cells' residents of the
    encoded ``data`` (``id_col, cell, pq``) ranked per query by ADC
    against the probe's ``qvec`` — ``query_id, neighbor_id, adc, rank``.
    A resident reached through several probes is scored once."""
    adc = _adc_expr(sub_lits, F.col("qvec"), F.col("pq"), m, w)
    scored = (
        data.join(F.broadcast(probes), on="cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), adc.alias("adc_raw")
        )
        .distinct()
    )
    return rank_topk(scored, "adc_raw", k, "adc")


def pq_train_residual(
    df: DataFrame,
    coarse_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    codes: int = 16,
    iters: int = 5,
) -> DataFrame:
    """Train per-subspace codebooks in RESIDUAL space (vector − its
    coarse cell centroid) — the codebook :func:`ivfadc_topk`'s
    ``by_residual=True`` needs: residuals concentrate near zero, so
    raw-space codewords (a corpus subset, or :func:`pq_train` output)
    quantize them badly.  One coarse assignment + broadcast centroid
    join, then :func:`pq_train` on the residual relation."""
    routed, res = _route(
        df, coarse_df.select("cid", "cvec"), id_col, vec_col, True
    )
    residuals = routed.select(
        F.col(id_col).alias("vec_id"), res.alias("embedding")
    )
    return pq_train(residuals, m=m, dim=dim, codes=codes, iters=iters)


def ivfadc_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    nprobe: int = 2,
    coarse_ids: list[int] | None = None,
    codebook_ids: list[int] | None = None,
    by_residual: bool = False,
) -> str:
    """DuckDB twin of :func:`ivfadc_topk` (corpus-subset coarse + code
    tables — same (d, cid)/(d, code) tiebreaks, same probe order, same
    subspace accumulation order).  ``by_residual`` mirrors the engine's
    two encodings: False encodes/compares RAW vectors; True encodes
    each vector's RESIDUAL against its routed cell centroid and ranks
    by the query's per-probe residual — the paper's §5 recipe, the
    exact arithmetic of ``ivfadc_topk(by_residual=True)`` and of a
    residual-mode index state (subtract as DOUBLE, then the same
    codeword assignment and ADC accumulation)."""
    if not query_ids:
        raise ValueError("query_ids must be a non-empty list")
    w = dim // m
    qids = ", ".join(str(i) for i in query_ids)
    ccids = ", ".join(str(i) for i in (coarse_ids or range(4)))
    cbids = ", ".join(str(i) for i in (codebook_ids or range(16)))
    enc_src = "res" if by_residual else "corpus"
    probes_src = "probesr" if by_residual else "probes"
    res_cte = """
 res AS (
   SELECT e.id,
          list_transform(list_zip(e.v, g.ccvec),
            p -> p[1]::DOUBLE - p[2]::DOUBLE) AS v
   FROM corpus e JOIN cells ON cells.id = e.id
   JOIN coarse g ON g.ccid = cells.cell
 ),""" if by_residual else ""
    probesr_cte = """
 probesr AS (
   SELECT p.query_id,
          list_transform(list_zip(p.qvec, g.ccvec),
            x -> x[1]::DOUBLE - x[2]::DOUBLE) AS qvec,
          p.cell
   FROM probes p JOIN coarse g ON g.ccid = p.cell
 ),""" if by_residual else ""

    def sq(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}),"
            " p -> (p[1]::DOUBLE - p[2]::DOUBLE)"
            " * (p[1]::DOUBLE - p[2]::DOUBLE)))"
        )

    sub = lambda col, s: f"list_slice({col}, {s * w + 1}, {(s + 1) * w})"  # noqa: E731
    assigns = []
    for s in range(m):
        assigns.append(f"""
 a{s} AS (
   SELECT id, code FROM (
     SELECT e.id, c.code,
            row_number() OVER (PARTITION BY e.id
              ORDER BY {sq(sub('e.v', s), sub('c.cvec', s))}, c.code) AS rn
     FROM {enc_src} e CROSS JOIN cb c
   ) WHERE rn = 1
 )""")
    adc_terms = " + ".join(
        sq(sub("p.qvec", s), sub(f"c{s}.cvec", s)) for s in range(m)
    )
    code_joins = "".join(
        f"\n   JOIN a{s} ON a{s}.id = e.id JOIN cb c{s} ON c{s}.code = a{s}.code"
        for s in range(m)
    )
    return f"""
(WITH corpus AS (SELECT {id_col} AS id, {vec_col} AS v FROM {table}),
 coarse AS (
   SELECT {id_col}::BIGINT AS ccid, {vec_col} AS ccvec FROM {table}
   WHERE {id_col} IN ({ccids})
 ),
 cb AS (
   SELECT {id_col}::BIGINT AS code, {vec_col} AS cvec FROM {table}
   WHERE {id_col} IN ({cbids})
 ),
 cells AS (
   SELECT id, ccid AS cell FROM (
     SELECT e.id, g.ccid,
            row_number() OVER (PARTITION BY e.id
              ORDER BY {sq('e.v', 'g.ccvec')}, g.ccid) AS rn
     FROM corpus e CROSS JOIN coarse g
   ) WHERE rn = 1
 ),{res_cte}{",".join(assigns)},
 q AS (
   SELECT {id_col} AS query_id, {vec_col} AS qvec FROM {table}
   WHERE {id_col} IN ({qids})
 ),
 probes AS (
   SELECT query_id, qvec, cell FROM (
     SELECT q.query_id, q.qvec, g.ccid AS cell,
            row_number() OVER (PARTITION BY q.query_id
              ORDER BY {sq('q.qvec', 'g.ccvec')}, g.ccid) AS rn
     FROM q CROSS JOIN coarse g
   ) WHERE rn <= {nprobe}
 ),{probesr_cte}
 scored AS (
   SELECT DISTINCT p.query_id, e.id AS neighbor_id, {adc_terms} AS adc_raw
   FROM corpus e{code_joins}
   JOIN cells ON cells.id = e.id
   JOIN {probes_src} p ON p.cell = cells.cell
   WHERE e.id <> p.query_id
 )
 SELECT query_id, neighbor_id, round(adc_raw, 6) AS adc, rank FROM (
   SELECT query_id, neighbor_id, adc_raw,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY adc_raw ASC, neighbor_id ASC) AS rank
   FROM scored
 ) WHERE rank <= {k})"""


MICRO = 1_000_000


def pq_train_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    codes: int = 16,
) -> DataFrame:
    """A DATA-DERIVED subspace codebook computed ENGINE-EXACTLY — one
    Lloyd mean-update step under the deterministic ``id % codes``
    assignment, in the repo's q_micro integer arithmetic (components
    quantized to integer micro units once; codewords are integer means
    ``sum div n``; published as ``micro / 1e6`` doubles, identical IEEE
    values in any engine).  Returns ``(sub, code, cw)`` for
    :func:`pq_topk`'s ``subspace_codebook_df``.

    Why this exists alongside :func:`pq_train`: the full trainer's
    ``F.avg`` means are float partial-aggregation-order dependent — the
    same determinism boundary that keeps Lloyd training out of the
    ``kmeans_assign_cells`` gate — so a DuckDB oracle cannot pin its
    VALUES without flaking.  This trainer is the mean-update half of
    the same algorithm made order-free, which puts the production
    codebook FORM (a trained ``(sub, code, cw)`` table, codewords that
    are corpus means rather than corpus rows) under a hard driver gate
    (``ann_pq_trained``); :func:`pq_train` itself is pinned by pytest
    (within-session reproducibility + the literal-rematerialization
    parity below it).

    Scale shape: one posexplode of (id, coordinate) → ONE partial-
    aggregated groupBy (codes × dim rows out — vocab-sized, never
    corpus-sized) → codes × m packed rows.  The assignment is
    ``pmod(id, codes)`` — non-negative for ANY integral id — and the
    DuckDB twin spells the same pmod as ``((id % c) + c) % c``
    (DuckDB's ``%`` truncates toward zero, so a bare ``%`` would
    assign negative ids differently between the engines)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m
    q = df.select(
        F.pmod(F.col(id_col).cast("long"), F.lit(codes)).alias("code"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                # double BEFORE multiply (operators/centroid.py device)
                lambda v: F.round(v.cast("double") * MICRO).cast("long"),
            )
        ).alias("j", "v"),
    )
    means = q.groupBy("code", "j").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    ).select("code", "j", F.expr("s div n").alias("c"))
    return (
        means.withColumn("sub", F.expr(f"j div {w}").cast("int"))
        .groupBy("sub", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "c"))),
                lambda x: x["c"].cast("double") / MICRO,
            ).alias("cw")
        )
        .select("sub", F.col("code").cast("long").alias("code"), "cw")
    )


def pq_topk_trained_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    codes: int = 16,
) -> str:
    """DuckDB twin of :func:`pq_topk` under a :func:`pq_train_exact`
    codebook — the oracle DERIVES the trained table (integer-micro
    means under ``id % codes``) rather than quoting it, then runs the
    same per-subspace assignment / ADC / top-k as :func:`pq_topk_sql`
    with the codebook in its native ``(sub, code, cw)`` form.  The
    code assignment is ``((id % c) + c) % c`` — DuckDB's truncating
    ``%`` made pmod-equivalent, so negative ids land on the same code
    in both engines (the contract is enforced in arithmetic, not just
    documented)."""
    if not query_ids:
        raise ValueError("query_ids must be a non-empty list")
    w = dim // m
    qids = ", ".join(str(i) for i in query_ids)

    def sq(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}),"
            " p -> (p[1]::DOUBLE - p[2]::DOUBLE)"
            " * (p[1]::DOUBLE - p[2]::DOUBLE)))"
        )

    sub = lambda col, s: f"list_slice({col}, {s * w + 1}, {(s + 1) * w})"  # noqa: E731
    assigns = []
    for s in range(m):
        assigns.append(f"""
 a{s} AS (
   SELECT id, code FROM (
     SELECT e.id, c.code,
            row_number() OVER (PARTITION BY e.id
              ORDER BY {sq(sub('e.v', s), 'c.cw')}, c.code) AS rn
     FROM corpus e CROSS JOIN (SELECT code, cw FROM cb WHERE sub = {s}) c
   ) WHERE rn = 1
 )""")
    adc_terms = " + ".join(
        sq(sub("q.qvec", s), f"c{s}.cw") for s in range(m)
    )
    code_joins = "".join(
        f"\n   JOIN a{s} ON a{s}.id = e.id"
        f" JOIN cb c{s} ON c{s}.sub = {s} AND c{s}.code = a{s}.code"
        for s in range(m)
    )
    return f"""
(WITH corpus AS (SELECT {id_col} AS id, {vec_col} AS v FROM {table}),
 cbq AS (
   SELECT (({id_col}::BIGINT % {codes}) + {codes}) % {codes} AS code,
          list_transform({vec_col}, v -> round(v::DOUBLE * {MICRO})::BIGINT) AS e
   FROM {table}
 ),
 cbc AS (
   SELECT code, i.i AS j, e[i.i] AS v
   FROM cbq, unnest(range(1, len(e) + 1)) AS i(i)
 ),
 cbm AS (
   SELECT code, j, sum(v)::BIGINT // count(*)::BIGINT AS c
   FROM cbc GROUP BY code, j
 ),
 cb AS (
   SELECT ((j - 1) // {w})::INT AS sub, code,
          list(c::DOUBLE / {MICRO}.0 ORDER BY j) AS cw
   FROM cbm GROUP BY 1, 2
 ),{",".join(assigns)},
 q AS (
   SELECT {id_col} AS query_id, {vec_col} AS qvec FROM {table}
   WHERE {id_col} IN ({qids})
 ),
 scored AS (
   SELECT q.query_id, e.id AS neighbor_id, {adc_terms} AS adc_raw
   FROM corpus e{code_joins}
   CROSS JOIN q
   WHERE e.id <> q.query_id
 )
 SELECT query_id, neighbor_id, round(adc_raw, 6) AS adc, rank FROM (
   SELECT query_id, neighbor_id, adc_raw,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY adc_raw ASC, neighbor_id ASC) AS rank
   FROM scored
 ) WHERE rank <= {k})"""


def ivfadc_refine_topk(
    df: DataFrame,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    rerank: int = 50,
    m: int = 8,
    dim: int = 64,
    nprobe: int = 2,
    coarse_df: DataFrame | None = None,
    coarse_ids: list[int] | None = None,
    codebook_ids: list[int] | None = None,
    codebook_df: DataFrame | None = None,
    subspace_codebook_df: DataFrame | None = None,
    by_residual: bool = False,
) -> DataFrame:
    """IVFADC + exact re-ranking (the paper's §5.3 "IVFADC+R" refine
    step, the Faiss ``refine`` recipe): take the ADC top-``rerank``
    candidates per query, fetch ONLY those candidates' raw vectors, and
    re-rank by exact squared-L2 to the unquantized query.  Returns
    ``query_id, neighbor_id, dist, rank`` (exact distances — unlike the
    parent's approximate ``adc``).

    Scale shape: the candidate set is ``rerank × |queries|`` rows —
    broadcast against the corpus scan, so the refine costs one
    hash-join pass (never all-pairs) and the exact-distance flops are
    R×|q|, independent of the corpus.  Quantization error then affects
    only RECALL of the candidate stage, never the final ordering of
    what it surfaced — the standard production quality/cost point
    (measured: tools/ann_recall.py ivfadc_clustered --rerank)."""
    cand = ivfadc_topk(
        df, queries_df, id_col, vec_col, query_id_col, query_vec_col,
        k=rerank, m=m, dim=dim, nprobe=nprobe,
        coarse_df=coarse_df, coarse_ids=coarse_ids,
        codebook_ids=codebook_ids, codebook_df=codebook_df,
        subspace_codebook_df=subspace_codebook_df,
        by_residual=by_residual,
    )
    return _exact_rerank(
        cand, df, queries_df, k, id_col, vec_col, query_id_col, query_vec_col
    )


def _exact_rerank(
    cand, raw_df, queries_df, k, id_col, vec_col, query_id_col, query_vec_col
):
    """IVFADC+R exact-rerank stage: the ADC candidates ``cand``
    (``query_id, neighbor_id``) re-scored by exact squared-L2 between the
    raw query and ``raw_df``'s raw neighbor vector — ``query_id,
    neighbor_id, dist, rank``."""
    raw = raw_df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nvec")
    )
    q = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qvec"),
    )
    scored = (
        raw.join(F.broadcast(cand.select("query_id", "neighbor_id")), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id", "neighbor_id",
            _sq(F.col("__qvec"), F.col("__nvec")).alias("d_raw"),
        )
    )
    return rank_topk(scored, "d_raw", k, "dist")


def ivfadc_refine_topk_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    k: int = 10,
    rerank: int = 50,
    m: int = 8,
    dim: int = 64,
    nprobe: int = 2,
    coarse_ids: list[int] | None = None,
    codebook_ids: list[int] | None = None,
) -> str:
    """DuckDB twin of :func:`ivfadc_refine_topk` (raw encoding): the
    :func:`ivfadc_topk_sql` candidate stage at k=rerank, then an exact
    squared-L2 re-rank over only those candidates."""
    if not query_ids:
        raise ValueError("query_ids must be a non-empty list")
    qids = ", ".join(str(i) for i in query_ids)
    cand = ivfadc_topk_sql(
        table, id_col, vec_col, query_ids=query_ids, k=rerank,
        m=m, dim=dim, nprobe=nprobe,
        coarse_ids=coarse_ids, codebook_ids=codebook_ids,
    )

    def sq(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}),"
            " p -> (p[1]::DOUBLE - p[2]::DOUBLE)"
            " * (p[1]::DOUBLE - p[2]::DOUBLE)))"
        )

    return f"""
(WITH cand AS (SELECT query_id, neighbor_id FROM {cand}),
 rq AS (
   SELECT {id_col} AS query_id, {vec_col} AS qvec FROM {table}
   WHERE {id_col} IN ({qids})
 ),
 raw AS (SELECT {id_col} AS neighbor_id, {vec_col} AS nvec FROM {table}),
 rescored AS (
   SELECT c.query_id, c.neighbor_id, {sq('q.qvec', 'r.nvec')} AS d_raw
   FROM cand c
   JOIN raw r ON r.neighbor_id = c.neighbor_id
   JOIN rq q ON q.query_id = c.query_id
 )
 SELECT query_id, neighbor_id, round(d_raw, 6) AS dist, rank FROM (
   SELECT query_id, neighbor_id, d_raw,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY d_raw ASC, neighbor_id ASC) AS rank
   FROM rescored
 ) WHERE rank <= {k})"""
