"""HDR-style log-bucket quantile sketch: mergeable percentiles.

Engine extension (the approximate-quantile member of the sketch
family — KMV answers "how many distinct", CMS "how often is this one",
this answers "what is p99"): a fixed-size, MERGEABLE histogram whose
buckets are log-spaced with ``p`` precision bits per octave — the
HdrHistogram design (Tene; also the bucketing behind Prometheus native
histograms).  Relative error is bounded by 2⁻ᵖ per value (p=5 →
≤ 3.2%), state is ≤ ~64·2ᵖ·2 buckets regardless of input size, and
two sketches merge by adding bucket counts — so a 100 TB percentile
job shuffles a few thousand counters, and per-shard sketches fold into
per-day / per-corpus ones EXACTLY (fold == direct, the same contract
the KMV/CMS gates pin).

Why not Spark's ``percentile_approx``: its GK summary is
implementation-defined (no DuckDB twin, no cross-engine determinism)
and not exposed as a mergeable artifact.  This sketch is pure integer
arithmetic — bit-identical on both engines:

- values are milli-quantized (``round(v*1000)`` — the PSI/zorder
  device); non-finite values are dropped on BOTH engines (Spark's
  non-ANSI cast silently corrupts, DuckDB raises — neither allowed in);
- sign is split out (``-1/0/+1``), buckets index ``|vm|``;
- for ``vm ≥ 1``: octave ``e = len(bin(vm)) - 1`` (integer bit length,
  no float log whose last-ulp could flip a boundary between engines),
  sub-bucket ``sub = (vm·2ᵖ) div 2ᵉ − 2ᵖ``, bucket ``b = e·2ᵖ + sub``;
- the bucket's value range is ``[lo, lo+w)`` with
  ``lo = (2ᵖ+sub)·2^(e−p)``, ``w = 2^(e−p)`` for ``e ≥ p`` (and the
  bucket is EXACT — w=1 — for ``e < p``); estimates report the integer
  midpoint ``lo + w div 2``.

Overflow envelope (same as operators/mi.psi_bins): the sub-bucket
multiply needs ``vm·2ᵖ < 2⁶³`` — with p=5, |value| up to ~2.9e14 after
milli scaling; quantize coarser first for larger magnitudes.

Quantile lookup sorts each sketch's ≤4k buckets once in value order
(``sign·(2²⁰ + bucket)``) and takes a cumulative count; ranks are
ceil(q·n/1000), 1-based — the classic lower-quantile definition,
integer-exact on both engines.

The Spark operators are the keyed ones in ``operators/sketchledger``
(``hdr_state_build`` / ``hdr_state_merge`` / ``hdr_state_quantiles``),
the single implementation of the family: ``keys=[]`` is the plain
sketch ``(sign, bucket, cnt)`` — its quantile window is then one
partition, safe because its row count is bounded by the SKETCH SIZE,
not the data — and ``keys=["grp"]`` the per-group one.  This module
holds the bucket math they share and the DuckDB twins (the oracles).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_PRECISION_BITS = 5


def _check_p(p: int) -> None:
    if not 1 <= p <= 10:
        raise ValueError("precision bits must be in 1..10")


def _vm(value: Column) -> Column:
    finite = value.isNotNull() & ~F.isnan(value) & (F.abs(value) != float("inf"))
    return F.when(finite, F.round(value * 1000, 0).cast("bigint"))


def _bucket_cols(p: int) -> tuple[Column, Column]:
    """(sign, bucket) expressions over a frame with column ``vm`` — the
    ONE Spark-side home of the octave/sub-bucket math
    (``sketchledger.hdr_state_build``)."""
    sign = F.when(F.col("vm") > 0, 1).when(F.col("vm") < 0, -1).otherwise(0)
    e = F.length(F.expr("bin(abs(vm))")) - 1
    sub = F.expr(
        f"(abs(vm) * {1 << p})"
        " div shiftleft(cast(1 as bigint), length(bin(abs(vm))) - 1)"
    ) - (1 << p)
    bucket = F.when(F.col("vm") == 0, F.lit(0)).otherwise(e * (1 << p) + sub)
    return sign, bucket


def _bucket_case_sql(p: int) -> tuple[str, str]:
    """(sign, bucket) SQL over a relation with column ``vm`` — the one
    DuckDB-side home of the same math."""
    tp = 1 << p
    sign = "CASE WHEN vm > 0 THEN 1 WHEN vm < 0 THEN -1 ELSE 0 END"
    bucket = f"""CASE WHEN vm = 0 THEN 0
             ELSE (length(bin(abs(vm))) - 1) * {tp}
                  + (abs(vm) * {tp}) // (1::BIGINT << (length(bin(abs(vm))) - 1))
                  - {tp}
        END"""
    return sign, bucket


def _mid_case_sql(p: int) -> str:
    """DuckDB midpoint CASE over (sign, bucket) — single home."""
    tp = 1 << p
    return f"""CASE
  WHEN sign = 0 THEN 0
  WHEN (bucket // {tp}) >= {p} THEN
    sign * ((({tp} + bucket % {tp}) << ((bucket // {tp}) - {p}))
            + ((1::BIGINT << ((bucket // {tp}) - {p})) // 2))
  ELSE sign * (({tp} + bucket % {tp}) // (1::BIGINT << ({p} - (bucket // {tp}))))
END"""


def _midpoint_expr(p: int) -> str:
    """SQL expr for the integer midpoint of (sign, bucket), shared
    verbatim by both engines (Spark F.expr and the DuckDB twin)."""
    tp = 1 << p
    return f"""CASE
  WHEN sign = 0 THEN 0
  WHEN (bucket div {tp}) >= {p} THEN
    sign * (shiftleft(cast({tp} + bucket % {tp} as bigint),
                      cast((bucket div {tp}) - {p} as int))
            + (shiftleft(cast(1 as bigint),
                         cast((bucket div {tp}) - {p} as int)) div 2))
  ELSE sign * (({tp} + bucket % {tp})
               div shiftleft(cast(1 as bigint),
                             cast({p} - (bucket div {tp}) as int)))
END"""


# ------------------------------------------------------------ SQL twins


def hdr_build_sql(values_query: str, p: int = DEFAULT_PRECISION_BITS) -> str:
    """DuckDB twin of ``hdr_state_build(df, [], "v", p)`` over a
    subquery yielding ``v``."""
    _check_p(p)
    sign, bucket = _bucket_case_sql(p)
    return f"""
(WITH base AS (
   SELECT round(v * 1000, 0)::BIGINT AS vm
   FROM ({values_query}) WHERE v IS NOT NULL AND isfinite(v)
 )
 SELECT {sign} AS sign,
        {bucket} AS bucket,
        count(*)::BIGINT AS cnt
 FROM base GROUP BY 1, 2)"""


def hdr_merge_sql(a: str, b: str) -> str:
    """DuckDB twin of ``hdr_state_merge(a, b)`` over two plain sketches."""
    return (
        f"(SELECT sign, bucket, sum(cnt)::BIGINT AS cnt FROM "
        f"(SELECT * FROM {a} UNION ALL SELECT * FROM {b}) GROUP BY sign, bucket)"
    )


def hdr_quantiles_sql(
    sketch_query: str,
    qs_permille: tuple[int, ...] = (500, 900, 990),
    p: int = DEFAULT_PRECISION_BITS,
) -> str:
    """DuckDB twin of ``hdr_state_quantiles(sketch, [], qs_permille, p)``."""
    _check_p(p)
    qvals = ", ".join(f"({q})" for q in qs_permille)
    mid = _mid_case_sql(p)
    return f"""
(WITH s AS (SELECT * FROM {sketch_query}),
 cum AS (
   SELECT sign, bucket,
          sum(cnt) OVER (ORDER BY sign ASC, sign * bucket ASC
                         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
          sum(cnt) OVER ()::BIGINT AS n
   FROM s
 ),
 qs(q_permille) AS (VALUES {qvals})
 SELECT q_permille, max(n)::BIGINT AS n_rows,
        min_by({mid}, sign * (1048576 + bucket))::BIGINT AS est_milli
 FROM qs, cum
 WHERE cum >= (q_permille * n + 999) // 1000
 GROUP BY q_permille)"""


# ------------------------------------------------------ grouped variant
#
# "p99 latency per endpoint" — the telemetry staple, built in Spark by
# the keyed operators with ``keys=["grp"]``.  Identical bucket math;
# state is ≤ buckets·groups cells; the quantile window partitions on the
# GROUP key (never SinglePartition), so a hot group is bounded by its
# bucket count (≤ ~4k), not its row count.


def hdr_build_by_group_sql(
    pairs_query: str, p: int = DEFAULT_PRECISION_BITS
) -> str:
    """DuckDB twin of ``hdr_state_build(df, ["grp"], "v", p)`` over a
    subquery yielding ``grp, v``."""
    _check_p(p)
    sign, bucket = _bucket_case_sql(p)
    return f"""
(WITH base AS (
   SELECT grp::VARCHAR AS grp, round(v * 1000, 0)::BIGINT AS vm
   FROM ({pairs_query}) WHERE v IS NOT NULL AND isfinite(v)
 )
 SELECT grp,
        {sign} AS sign,
        {bucket} AS bucket,
        count(*)::BIGINT AS cnt
 FROM base GROUP BY 1, 2, 3)"""


def hdr_quantiles_by_group_sql(
    sketch_query: str,
    qs_permille: tuple[int, ...] = (500, 990),
    p: int = DEFAULT_PRECISION_BITS,
) -> str:
    """DuckDB twin of ``hdr_state_quantiles(sketch, ["grp"], qs_permille, p)``."""
    _check_p(p)
    qvals = ", ".join(f"({q})" for q in qs_permille)
    mid = _mid_case_sql(p)
    return f"""
(WITH s AS (SELECT * FROM {sketch_query}),
 cum AS (
   SELECT grp, sign, bucket,
          sum(cnt) OVER (PARTITION BY grp
                         ORDER BY sign * (1048576 + bucket) ASC
                         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
          sum(cnt) OVER (PARTITION BY grp)::BIGINT AS n
   FROM s
 ),
 qs(q_permille) AS (VALUES {qvals})
 SELECT grp, q_permille, max(n)::BIGINT AS n_rows,
        min_by({mid}, sign * (1048576 + bucket))::BIGINT AS est_milli
 FROM qs, cum
 WHERE cum >= (q_permille * n + 999) // 1000
 GROUP BY grp, q_permille)"""
