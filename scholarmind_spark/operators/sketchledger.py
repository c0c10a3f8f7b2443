"""Sketch-state ledger: persisted, keyed, mergeable sketch tables for
monitoring across runs.

Engine extension (the monitoring twin of ``operators/ledger``): a
100 TB pipeline does not recompute "p99 latency per segment, today vs
last week" from raw events — it maintains a STATE TABLE of sketches
keyed by ``(day, segment)``, folds each new batch in with the sketch's
merge (exact by construction: ``+`` for HDR bucket counts, set-union-
then-rank for KMV minima, ``bit_or`` for Bloom words), and answers
drift questions FROM STATE ONLY.  This module applies the dedup-ledger
contract (content-pure keyed rows + associative fold + query-time
answer; ``ledger.py``) to the sketch family the battery already has
(``hdr.py``, ``sketch.py``, ``bloom.py``).  The keyed operators here are
the ONLY Spark implementation of HDR build/merge/quantiles, of the KMV
estimator and of Bloom build/merge: ``keys=[]`` is the plain sketch (one
global sketch, no key columns), ``keys=["grp"]`` the per-group one, so
batch sketches and maintained state are the same code.  The families'
modules keep the shared hash/bucket math, the DuckDB twins, and the
operators with no keyed equivalent (the un-keyed KMV top-k path, Bloom
probes, CMS).  The state tables:

- **HDR state** ``(*keys, sign, bucket, cnt)`` — per-key log-bucket
  histograms; fold = groupBy-sum.  Answers per-key quantiles and
  day-over-day quantile drift.
- **KMV state** ``(*keys, h)`` — per-key k smallest distinct hashes;
  fold = union → distinct → per-key rank ≤ k.  Exact: the global
  per-key k minima are contained in the union of per-batch per-key
  minima.  Answers per-key distinct-count estimates.
- **Bloom state** ``(*keys, word, bits)`` — per-key bit words; fold =
  groupBy bit_or.  Answers per-key membership ("did segment S see user
  U any day this week" via a fold across days).

All folds are EXACT (fold == direct over the union of batches), pinned
by the ``sketch_ledger_roundtrip`` gate with the same two-batch device
as ``dedup_ledger_roundtrip``; the ``sketch_ledger_drift`` gate answers
p99-drift-per-segment from the folded state and the oracle recomputes
it from raw events — the state-only answer must equal the from-scratch
one.

Scale posture: every state table is bounded by sketch geometry, not
data — HDR ≤ ~4k cells, KMV ≤ k rows, Bloom ≤ m_words rows, each PER
KEY — so a year of daily state for 1000 segments is a few GB of
parquet, and each fold shuffles O(state) rows.  All groupBys are
map-side combinable; the quantile windows partition on the key (never
SinglePartition, unless ``keys=[]`` makes the whole bounded sketch one
partition).  Geometry (``p``/``k``/``m_words``) is a caller contract
stored next to the state table."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scholarmind_spark.operators.bloom import (
    BITS_PER_WORD,
    DEFAULT_HASHES,
    DEFAULT_M_WORDS,
    word_and_mask_exprs,
    word_and_mask_sql,
)
from scholarmind_spark.operators.bloom import (
    _check as _bloom_check,
)
from scholarmind_spark.operators.bloom import (
    _positions as _bloom_positions,
)
from scholarmind_spark.operators.bloom import (
    _positions_sql as _bloom_positions_sql,
)
from scholarmind_spark.operators.hdr import (
    DEFAULT_PRECISION_BITS,
    _bucket_case_sql,
    _bucket_cols,
    _check_p,
    _mid_case_sql,
    _midpoint_expr,
    _vm,
)
from scholarmind_spark.operators.neardup import minhash_base, minhash_base_sql
from scholarmind_spark.operators.sketch import DEFAULT_K, _estimate_expr, _estimate_sql


def _key_cols(keys: list[str]) -> list[Column]:
    return [F.col(k) for k in keys]


# ------------------------------------------------------------ HDR state


def hdr_state_build(
    df: DataFrame,
    keys: list[str],
    value: Column | str,
    p: int = DEFAULT_PRECISION_BITS,
) -> DataFrame:
    """``*keys, sign, bucket, cnt`` — one HDR sketch per key tuple.
    Key columns are cast to string (the grouped-sketch convention);
    NULL keys form their own group; ``keys=[]`` is the plain sketch
    ``sign, bucket, cnt``.  Bucket math is the single-home
    ``hdr._bucket_cols``, which the ``hdr.*_sql`` twins mirror."""
    _check_p(p)
    vc = F.col(value) if isinstance(value, str) else value
    base = df.select(
        *[F.col(k).cast("string").alias(k) for k in keys],
        _vm(vc).alias("vm"),
    ).where(F.col("vm").isNotNull())
    sign, bucket = _bucket_cols(p)
    return (
        base.select(*_key_cols(keys), sign.alias("sign"), bucket.alias("bucket"))
        .groupBy(*keys, "sign", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hdr_state_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two HDR state tables (same keys, same ``p``): union +
    groupBy-sum.  Exact by associativity of +."""
    gcols = [c for c in a.columns if c != "cnt"]
    return (
        a.unionByName(b).groupBy(*gcols).agg(F.sum("cnt").alias("cnt"))
    )


def hdr_state_rekey(state: DataFrame, keys: list[str]) -> DataFrame:
    """Coarsen an HDR state table to a subset of its keys (the
    day×segment → day rollup): drop the finer key columns and re-sum
    bucket counts.  EXACT by additivity — rolling up state equals
    building at the coarse key directly, so hierarchy answers
    (per-day from per-day-per-segment state) never touch raw data."""
    return (
        state.groupBy(*keys, "sign", "bucket").agg(F.sum("cnt").alias("cnt"))
    )


def hdr_state_quantiles(
    state: DataFrame,
    keys: list[str],
    qs_permille: tuple[int, ...] = (990,),
    p: int = DEFAULT_PRECISION_BITS,
) -> DataFrame:
    """``*keys, q_permille, n_rows, est_milli`` — quantiles per key
    tuple, from state only.  The cumulative window partitions on the
    KEYS; per-partition row count is bounded by the sketch's bucket
    count (≤ ~4k), never by the data."""
    _check_p(p)
    for q in qs_permille:
        if not 1 <= q <= 1000:
            raise ValueError("quantiles are permille values in 1..1000")
    order = (F.col("sign") * (F.lit(1048576) + F.col("bucket"))).asc()
    w = Window.partitionBy(*keys).orderBy(order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = Window.partitionBy(*keys)
    cum = state.select(
        *keys,
        "sign",
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    qdf = state.sparkSession.createDataFrame(
        [(q,) for q in qs_permille], "q_permille int"
    )
    return (
        qdf.crossJoin(cum)
        .where(F.col("cum") >= F.expr("(q_permille * n + 999) div 1000"))
        .groupBy(*keys, "q_permille")
        .agg(
            F.max("n").cast("bigint").alias("n_rows"),
            F.min_by(
                F.expr(_midpoint_expr(p)),
                F.col("sign") * (F.lit(1048576) + F.col("bucket")),
            ).cast("bigint").alias("est_milli"),
        )
    )


def hdr_state_drift(
    state: DataFrame,
    seg_col: str = "seg",
    day_col: str = "day",
    q_permille: int = 990,
    p: int = DEFAULT_PRECISION_BITS,
) -> DataFrame:
    """``seg, day, p_milli, prev_p_milli, drift_milli`` — the monitoring
    answer: per segment, the day's quantile vs the PREVIOUS day present
    in state, computed from state only (no raw events touched).  Days
    with no predecessor are omitted (nothing to drift against).  The
    lag window partitions on the segment and holds one row per day —
    bounded by the state's day count.

    Day ordering is (length, value): key columns are STRINGS in sketch
    state, and plain lexicographic order mis-pairs unpadded integer day
    keys across a digit-length boundary ('10000' < '9999' — epoch-weeks
    or unpadded schemes hit this immediately); length-then-lex equals
    numeric order for any non-negative integer rendering and reduces to
    plain lex for fixed-width keys (ISO dates, zero-padded)."""
    qd = hdr_state_quantiles(state, [seg_col, day_col], (q_permille,), p)
    w = Window.partitionBy(seg_col).orderBy(
        F.length(day_col).asc(), F.col(day_col).asc()
    )
    return (
        qd.select(
            seg_col,
            day_col,
            F.col("est_milli").alias("p_milli"),
            F.lag("est_milli").over(w).alias("prev_p_milli"),
        )
        .where(F.col("prev_p_milli").isNotNull())
        .select(
            seg_col,
            day_col,
            "p_milli",
            "prev_p_milli",
            (F.col("p_milli") - F.col("prev_p_milli")).alias("drift_milli"),
        )
    )


# ------------------------------------------------------------ KMV state


def _rank_cap(df: DataFrame, keys: list[str], k: int) -> DataFrame:
    """Keep the k smallest ``h`` per key tuple — THE cap both the
    builder and the merge apply; the fold-exactness argument requires
    them to be the identical operation."""
    w = Window.partitionBy(*keys).orderBy("h")
    return (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def _rank_cap_sql(inner: str, keys: list[str], k: int) -> str:
    """DuckDB twin of :func:`_rank_cap` over a relation with ``h``."""
    kl = ", ".join(keys)
    return f"""
(SELECT {kl}, h FROM (
   SELECT {kl}, h,
          row_number() OVER (PARTITION BY {kl} ORDER BY h) AS rn
   FROM {inner}
 ) WHERE rn <= {k})"""


def kmv_state_build(
    df: DataFrame,
    keys: list[str],
    value: Column | str,
    k: int = DEFAULT_K,
) -> DataFrame:
    """``*keys, h`` — the k smallest distinct 60-bit hashes of ``value``
    per key tuple (fewer if the key saw fewer distinct values).  NULL
    values are dropped (not set members); NULL keys form a group."""
    if k < 2:
        raise ValueError("kmv sketches need k >= 2 (the estimator uses k-1)")
    # string/integer-typed values only: both engines hash the value's
    # STRING form, and int→string renders identically on both; float
    # renderings do not (the same caller contract as bloom keys)
    vc = (F.col(value) if isinstance(value, str) else value).cast("string")
    pairs = (
        df.select(
            *[F.col(c).cast("string").alias(c) for c in keys],
            minhash_base(vc).alias("h"),
        )
        .where(F.col("h").isNotNull())
        .distinct()
    )
    return _rank_cap(pairs, keys, k)


def kmv_state_merge(a: DataFrame, b: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """Fold two KMV state tables: union → distinct → per-key rank ≤ k.
    Exact — any hash among a key's global k smallest is among that
    key's k smallest in whichever batch contained it, so the union of
    per-batch minima contains the global minima."""
    if k < 2:
        raise ValueError("kmv sketches need k >= 2 (the estimator uses k-1)")
    keys = [c for c in a.columns if c != "h"]
    return _rank_cap(a.unionByName(b).distinct(), keys, k)


def kmv_state_estimate(state: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """``*keys, n_minima, kth_hash, est_distinct`` per key tuple — the
    KMV estimator over a state table (exact below k).

    ``k`` is part of the stored-state contract (the same k must be used
    at build, merge, and estimate time); because the state table itself
    cannot carry it, a mismatch is only MECHANICALLY detectable in one
    direction: a key holding MORE than k minima proves the state was
    built or merged under a larger k, and the kth_hash would no longer
    be the k-th minimum — the estimator fails loudly (``assert_true``
    per key, a cheap comparison) instead of silently under-estimating.
    The OTHER direction is undetectable from the state alone: a state
    built under a SMALLER k (say 4) estimated here with a larger one
    (say 64) holds ≤ 4 minima per key, which is indistinguishable from
    a key that genuinely saw ≤ 4 distinct values — the 'exact below k'
    branch returns the build-time cap as the distinct count, a gross
    under-estimate with no error.  Keeping k WITH the state (the
    streaming folds pin it via ``stream_fold_sketch_state(k=...)``; a
    batch pipeline should record it next to the parquet path) is the
    caller's side of the contract."""
    keys = [c for c in state.columns if c != "h"]
    agg = state.groupBy(*keys).agg(
        F.count("*").alias("n_minima"), F.max("h").alias("kth_hash")
    )
    k_ok = F.assert_true(
        F.col("n_minima") <= F.lit(k),
        F.lit(
            "kmv_state_estimate: a key holds more than k minima — "
            "the state was built/merged under a larger k than the "
            "one passed here; the kth_hash is not the k-th minimum "
            "and the estimate would be silently wrong"
        ),
    ).isNull()
    n_guarded = F.when(k_ok, F.col("n_minima"))
    kth_guarded = F.when(k_ok, F.col("kth_hash"))
    # the guard must live in EVERY output column an estimate consumer
    # can project — n_minima, kth_hash AND est_distinct each embed it —
    # so Catalyst column pruning cannot drop the assertion whichever
    # subset a caller selects
    return agg.select(
        *keys,
        n_guarded.alias("n_minima"),
        kth_guarded.alias("kth_hash"),
        _estimate_expr(n_guarded, kth_guarded, k).alias("est_distinct"),
    )


# ---------------------------------------------------------- Bloom state


def bloom_state_build(
    df: DataFrame,
    keys: list[str],
    value: Column | str,
    m_words: int = DEFAULT_M_WORDS,
    k: int = DEFAULT_HASHES,
) -> DataFrame:
    """``*keys, word, bits`` — one Bloom filter per key tuple, ≤
    ``m_words`` rows each; ``keys=[]`` is the plain filter ``word,
    bits`` that ``bloom.bloom_contains``/``bloom_prune`` probe.  Bit
    positions come from the single-home ``bloom._positions``, so every
    filter built here is probe-compatible with those probes."""
    _bloom_check(m_words, k)
    vc = (F.col(value) if isinstance(value, str) else value).cast("string")
    vals = df.select(
        *[F.col(c).cast("string").alias(c) for c in keys], vc.alias("v")
    ).where(F.col("v").isNotNull())
    pos = vals.select(
        *_key_cols(keys),
        F.explode(F.array(*_bloom_positions(F.col("v"), m_words, k))).alias(
            "pos"
        ),
    )
    word, mask = word_and_mask_exprs()
    return (
        pos.select(*_key_cols(keys), word.alias("word"), mask.alias("m"))
        .groupBy(*keys, "word")
        .agg(F.expr("bit_or(m)").alias("bits"))
    )


def bloom_state_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two Bloom state tables (same keys, same geometry): union +
    groupBy bit_or.  Exact — OR is associative and commutative."""
    gcols = [c for c in a.columns if c != "bits"]
    return (
        a.unionByName(b)
        .groupBy(*gcols)
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )


def bloom_state_rekey(state: DataFrame, keys: list[str]) -> DataFrame:
    """Coarsen a Bloom state table to a subset of its keys (day×segment
    → segment: "the segment's filter for the whole period"): drop the
    finer keys and bit_or the words.  The coarse filter is EXACTLY the
    filter a direct coarse build would produce (OR associativity), so
    period membership is answerable from daily state."""
    return (
        state.groupBy(*keys, "word").agg(F.expr("bit_or(bits)").alias("bits"))
    )


def bloom_state_contains(
    state: DataFrame,
    probes: DataFrame,
    col: str | Column,
    m_words: int = DEFAULT_M_WORDS,
    k: int = DEFAULT_HASHES,
) -> DataFrame:
    """``*keys, key, contained`` — for every key tuple in ``state`` and
    every distinct non-null probe value: 1 iff all k probed bits are
    set in THAT key's filter (guaranteed 1 for every value inserted
    under that key — no false negatives).  The key-tuples × probes
    cross is bounded by state cardinality × probe count, never by the
    ingested data."""
    _bloom_check(m_words, k)
    keys = [c for c in state.columns if c not in ("word", "bits")]
    v = (F.col(col) if isinstance(col, str) else col).cast("string")
    pr = probes.select(v.alias("key")).where(F.col("key").isNotNull()).distinct()
    exp = pr.select(
        "key",
        F.explode(F.array(*_bloom_positions(F.col("key"), m_words, k))).alias(
            "pos"
        ),
    ).select(
        "key",
        F.expr(f"pos div {BITS_PER_WORD}").alias("word"),
        (F.col("pos") % BITS_PER_WORD).cast("int").alias("bit"),
    )
    from functools import reduce

    kt = state.select(*keys).distinct()
    cp = kt.crossJoin(exp).alias("c")
    # null-safe key equality: a NULL key tuple is a real group (the
    # keyed-sketch convention) and must find its own filter words
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"c.{c}").eqNullSafe(F.col(f"s.{c}")) for c in keys]
        + [F.col("c.word") == F.col("s.word")],
    )
    j = cp.join(state.alias("s"), cond, "left").select(
        *[F.col(f"c.{c}").alias(c) for c in keys],
        F.col("c.key").alias("key"),
        F.col("c.bit").alias("bit"),
        F.col("s.bits").alias("bits"),
    )
    hit = (
        F.expr("shiftright(coalesce(bits, cast(0 as bigint)), bit)") % 2
    ).cast("int")
    return j.groupBy(*keys, "key").agg(F.min(hit).alias("contained"))


# ------------------------------------------- retention / compaction
#
# A day×segment state table grows one partition per day forever; these
# ops bound it.  ``sketch_state_expire`` is a pure filter (any family).
# The ``*_state_compact`` ops keep recent days at day grain and REKEY
# older days to a coarse period label via each family's exact rekey
# fold (sum / bit_or / rank-cap), so compacted state still answers
# every question about the expired range at the coarse grain — nothing
# is recomputed from raw data, and the answers are EXACTLY what a
# direct mixed-grain build would produce (the ``sketch_ledger_compact``
# gate pins this against an oracle that rebuilds from raw events).
# Day ordering is (length, value) — numeric order for unpadded integer
# day keys, plain lex for fixed-width ones (the hdr_state_drift rule).


def _day_ge(day_col: str, cutoff_day: str) -> Column:
    """``day >= cutoff`` under (length, value) order — numeric for any
    non-negative integer rendering, lexicographic for fixed-width."""
    d, c = F.col(day_col), F.lit(cutoff_day)
    return (F.length(d) > F.length(c)) | (
        (F.length(d) == F.length(c)) & (d >= c)
    )


def _default_period(day_col: str, period_prefix: str = "m") -> Column:
    """30-day period label for unpadded epoch-day keys; the prefix
    guarantees period labels can never collide with retained day
    labels, and MUST match the ``period_prefix`` the compactors use to
    recognize already-coarse rows (it is threaded through for exactly
    that reason — a mismatch would re-cast or mis-classify period rows
    on the next compaction)."""
    return F.concat(
        F.lit(period_prefix),
        F.expr(f"cast(cast({day_col} as bigint) div 30 as string)"),
    )


def _split_by_day(
    state: DataFrame,
    day_col: str,
    cutoff_day: str,
    period: Column,
    period_prefix: str = "m",
):
    """(recent, expired-with-period-label) partition of a state table.
    A NULL day key (a real group under the keyed-sketch convention)
    routes to the EXPIRED branch — a bare ``~predicate`` would be NULL
    for it and silently drop the row from both branches.  Rows whose
    key already carries a PERIOD label (``period_prefix``) also route
    to the expired branch with their label UNCHANGED: compaction must
    be re-runnable over its own output (a standing ledger is compacted
    on every fold), and without this rule a period label would either
    crash the default ``day div 30`` cast or — worse — win the
    (length, value) recency compare against a shorter cutoff and leak
    into the retained branch as if it were a day."""
    is_period = F.col(day_col).startswith(period_prefix)
    keep = _day_ge(day_col, cutoff_day) & ~is_period
    recent = state.where(keep)
    old = state.where(~keep.eqNullSafe(F.lit(True))).withColumn(
        day_col,
        F.when(is_period, F.col(day_col)).otherwise(period),
    )
    return recent, old


def sketch_state_expire(
    state: DataFrame,
    day_col: str,
    cutoff_day: str,
    period_prefix: str = "m",
    keep_periods: bool = False,
) -> DataFrame:
    """Retention without compaction: drop state rows older than
    ``cutoff_day``.  A pure filter — works for every family (HDR, KMV,
    Bloom share the day-keyed layout) and costs one scan, no shuffle.

    Rows already carrying a PERIOD label (``period_prefix``) are never
    put through the (length, value) day compare — a period label would
    win or lose it purely on the cutoff's digit count, silently keeping
    or dropping the whole compacted history depending on the date.
    They are coarse-grain HISTORY: dropped by default (expiry means
    "keep only the recent window"), kept verbatim with
    ``keep_periods=True`` (expiry of day rows only).  NULL-day groups
    (real groups under the keyed-sketch convention, which compaction
    deliberately preserves) are likewise non-day rows and follow the
    period rows' fate — a bare predicate would be NULL for them and
    silently drop them from BOTH modes."""
    is_period = F.col(day_col).startswith(period_prefix)
    non_day = F.col(day_col).isNull() | is_period.eqNullSafe(F.lit(True))
    keep = _day_ge(day_col, cutoff_day) & ~non_day
    if keep_periods:
        keep = keep | non_day
    return state.where(keep)


def hdr_state_compact(
    state: DataFrame,
    day_col: str,
    cutoff_day: str,
    period: Column | None = None,
    period_prefix: str = "m",
) -> DataFrame:
    """Rows with ``day >= cutoff_day`` keep their day grain; older rows
    are rekeyed to ``period`` (default: ``'m' || day div 30``) and
    re-summed — the exact :func:`hdr_state_rekey` fold, so the coarse
    rows equal a direct coarse build over the expired days.  State size
    becomes O(retained days + periods), bounded over an unbounded fold
    history."""
    period = (
        _default_period(day_col, period_prefix) if period is None else period
    )
    keys = [c for c in state.columns if c not in ("sign", "bucket", "cnt")]
    recent, old = _split_by_day(
        state, day_col, cutoff_day, period, period_prefix
    )
    return recent.unionByName(hdr_state_rekey(old, keys))


def bloom_state_compact(
    state: DataFrame,
    day_col: str,
    cutoff_day: str,
    period: Column | None = None,
    period_prefix: str = "m",
) -> DataFrame:
    """Bloom twin of :func:`hdr_state_compact`: expired days collapse
    into one filter per (period, *other keys) via the exact
    :func:`bloom_state_rekey` ``bit_or`` — period membership stays
    answerable, state stays ≤ m_words rows per retained key."""
    period = (
        _default_period(day_col, period_prefix) if period is None else period
    )
    keys = [c for c in state.columns if c not in ("word", "bits")]
    recent, old = _split_by_day(
        state, day_col, cutoff_day, period, period_prefix
    )
    return recent.unionByName(bloom_state_rekey(old, keys))


def kmv_state_rekey(state: DataFrame, keys: list[str], k: int = DEFAULT_K) -> DataFrame:
    """Coarsen a KMV state table to a subset of its keys: project,
    distinct, re-cap.  EXACT by the merge argument — any hash among the
    coarse key's global k minima has fewer than k smaller hashes in its
    own fine key, so it survived the fine cap and is present in the
    union.  ``k`` is the stored-state contract k (same as build/merge)."""
    if k < 2:
        raise ValueError("kmv sketches need k >= 2 (the estimator uses k-1)")
    return _rank_cap(state.select(*keys, "h").distinct(), keys, k)


def kmv_state_compact(
    state: DataFrame,
    day_col: str,
    cutoff_day: str,
    k: int = DEFAULT_K,
    period: Column | None = None,
    period_prefix: str = "m",
) -> DataFrame:
    """KMV twin of :func:`hdr_state_compact`: expired days collapse to
    ≤ k minima per (period, *other keys) via :func:`kmv_state_rekey` —
    period distinct-counts stay answerable from compacted state."""
    period = (
        _default_period(day_col, period_prefix) if period is None else period
    )
    keys = [c for c in state.columns if c != "h"]
    recent, old = _split_by_day(
        state, day_col, cutoff_day, period, period_prefix
    )
    return recent.unionByName(kmv_state_rekey(old, keys, k))


# ------------------------------------------------------------ SQL twins
#
# Compositional query strings over subqueries yielding the key columns
# plus ``v`` — so gate oracles can assemble the full keyed fold paths in
# DuckDB (the ledger.py twin convention).


def hdr_state_build_sql(
    pairs_query: str, keys: list[str], p: int = DEFAULT_PRECISION_BITS
) -> str:
    _check_p(p)
    sign, bucket = _bucket_case_sql(p)
    ks = ", ".join(f"{k}::VARCHAR AS {k}" for k in keys)
    kl = ", ".join(keys)
    return f"""
(WITH base AS (
   SELECT {ks}, round(v * 1000, 0)::BIGINT AS vm
   FROM ({pairs_query}) WHERE v IS NOT NULL AND isfinite(v)
 )
 SELECT {kl}, {sign} AS sign, {bucket} AS bucket, count(*)::BIGINT AS cnt
 FROM base GROUP BY ALL)"""


def hdr_state_merge_sql(a: str, b: str, keys: list[str]) -> str:
    kl = ", ".join(keys)
    return (
        f"(SELECT {kl}, sign, bucket, sum(cnt)::BIGINT AS cnt FROM "
        f"(SELECT * FROM {a} UNION ALL SELECT * FROM {b}) "
        f"GROUP BY {kl}, sign, bucket)"
    )


def hdr_state_quantiles_sql(
    state_query: str,
    keys: list[str],
    qs_permille: tuple[int, ...] = (990,),
    p: int = DEFAULT_PRECISION_BITS,
) -> str:
    _check_p(p)
    qvals = ", ".join(f"({q})" for q in qs_permille)
    mid = _mid_case_sql(p)
    kl = ", ".join(keys)
    return f"""
(WITH s AS (SELECT * FROM {state_query}),
 cum AS (
   SELECT {kl}, sign, bucket,
          sum(cnt) OVER (PARTITION BY {kl}
                         ORDER BY sign * (1048576 + bucket) ASC
                         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
          sum(cnt) OVER (PARTITION BY {kl})::BIGINT AS n
   FROM s
 ),
 qs(q_permille) AS (VALUES {qvals})
 SELECT {kl}, q_permille, max(n)::BIGINT AS n_rows,
        min_by({mid}, sign * (1048576 + bucket))::BIGINT AS est_milli
 FROM qs, cum
 WHERE cum >= (q_permille * n + 999) // 1000
 GROUP BY {kl}, q_permille)"""


def hdr_state_drift_sql(
    state_query: str,
    seg_col: str = "seg",
    day_col: str = "day",
    q_permille: int = 990,
    p: int = DEFAULT_PRECISION_BITS,
) -> str:
    q = hdr_state_quantiles_sql(state_query, [seg_col, day_col], (q_permille,), p)
    return f"""
(WITH qd AS (SELECT * FROM {q}),
 lagged AS (
   SELECT {seg_col}, {day_col}, est_milli AS p_milli,
          lag(est_milli) OVER (PARTITION BY {seg_col}
                               ORDER BY length({day_col}) ASC,
                                        {day_col} ASC) AS prev_p_milli
   FROM qd
 )
 SELECT {seg_col}, {day_col}, p_milli, prev_p_milli,
        (p_milli - prev_p_milli)::BIGINT AS drift_milli
 FROM lagged WHERE prev_p_milli IS NOT NULL)"""


def kmv_state_build_sql(pairs_query: str, keys: list[str], k: int = DEFAULT_K) -> str:
    if k < 2:
        raise ValueError("kmv sketches need k >= 2 (the estimator uses k-1)")
    h = minhash_base_sql("v::VARCHAR")
    ks = ", ".join(f"{c}::VARCHAR AS {c}" for c in keys)
    pairs = (
        f"(SELECT DISTINCT {ks}, {h} AS h"
        f" FROM ({pairs_query}) WHERE v IS NOT NULL)"
    )
    return _rank_cap_sql(pairs, keys, k)


def kmv_state_merge_sql(a: str, b: str, keys: list[str], k: int = DEFAULT_K) -> str:
    u = (
        f"(SELECT DISTINCT * FROM"
        f" (SELECT * FROM {a} UNION ALL SELECT * FROM {b}))"
    )
    return _rank_cap_sql(u, keys, k)


def kmv_state_estimate_sql(state_query: str, keys: list[str], k: int = DEFAULT_K) -> str:
    kl = ", ".join(keys)
    est = _estimate_sql("n_minima", "kth_hash", k)
    return f"""
(WITH agg AS (
   SELECT {kl}, count(*)::BIGINT AS n_minima, max(h) AS kth_hash
   FROM {state_query} GROUP BY {kl}
 )
 SELECT {kl}, n_minima, kth_hash, {est} AS est_distinct FROM agg)"""


def bloom_state_build_sql(
    pairs_query: str,
    keys: list[str],
    m_words: int = DEFAULT_M_WORDS,
    k: int = DEFAULT_HASHES,
) -> str:
    _bloom_check(m_words, k)
    kl = ", ".join(keys)
    ks = ", ".join(f"{c}::VARCHAR AS {c}" for c in keys)
    pos = " UNION ALL ".join(
        f"SELECT {kl}, {p} AS pos FROM vals"
        for p in _bloom_positions_sql("v", m_words, k)
    )
    word_sql, mask_sql = word_and_mask_sql()
    return f"""
(WITH vals AS (
   SELECT {ks}, v::VARCHAR AS v FROM ({pairs_query}) WHERE v IS NOT NULL
 ),
 pos AS ({pos})
 SELECT {kl}, {word_sql} AS word,
        bit_or({mask_sql})::BIGINT AS bits
 FROM pos GROUP BY ALL)"""


def bloom_state_merge_sql(a: str, b: str, keys: list[str]) -> str:
    kl = ", ".join(keys)
    return (
        f"(SELECT {kl}, word, bit_or(bits)::BIGINT AS bits FROM "
        f"(SELECT * FROM {a} UNION ALL SELECT * FROM {b}) "
        f"GROUP BY {kl}, word)"
    )


def bloom_state_rekey_sql(state_query: str, keys: list[str]) -> str:
    kl = ", ".join(keys)
    return (
        f"(SELECT {kl}, word, bit_or(bits)::BIGINT AS bits FROM "
        f"{state_query} GROUP BY {kl}, word)"
    )


def bloom_state_contains_sql(
    state_query: str,
    keys: list[str],
    probes_query: str,
    m_words: int = DEFAULT_M_WORDS,
    k: int = DEFAULT_HASHES,
) -> str:
    """DuckDB twin of :func:`bloom_state_contains` — ``probes_query``
    yields ``v``."""
    _bloom_check(m_words, k)
    kl = ", ".join(keys)
    pos = " UNION ALL ".join(
        f"SELECT key, {p} AS pos FROM probes"
        for p in _bloom_positions_sql("key", m_words, k)
    )
    return f"""
(WITH st AS (SELECT * FROM {state_query}),
 probes AS (SELECT DISTINCT v::VARCHAR AS key FROM ({probes_query})
            WHERE v IS NOT NULL),
 expanded AS (
   SELECT key, pos // {BITS_PER_WORD} AS word,
          (pos % {BITS_PER_WORD})::INT AS bit
   FROM ({pos})
 ),
 kt AS (SELECT DISTINCT {kl} FROM st),
 cp AS (SELECT {", ".join(f"kt.{c} AS {c}" for c in keys)},
               e.key, e.word, e.bit
        FROM kt, expanded e)
 SELECT {", ".join(f"cp.{c} AS {c}" for c in keys)}, cp.key,
        min(((coalesce(s.bits, 0) >> cp.bit) % 2)::INT)::INT AS contained
 FROM cp
 LEFT JOIN st s ON ({" AND ".join(f"s.{c} IS NOT DISTINCT FROM cp.{c}" for c in keys)})
               AND s.word = cp.word
 GROUP BY {", ".join(f"cp.{c}" for c in keys)}, cp.key)"""
