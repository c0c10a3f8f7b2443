"""Bloom-filter membership sketch: fixed-size, mergeable, never a
false negative.

Engine extension (the membership member of the sketch family — KMV:
how many distinct; CMS: how often; HDR: what percentile; this: have I
SEEN this key): the standard pre-filter in front of expensive
existence checks — "probably-already-ingested" guards in a dedup
ledger, join pruning against a huge build side, crawl frontier
"visited" sets.  State is a fixed bitmap independent of input size;
two filters over different batches MERGE by bitwise OR (fold ==
direct, the family's incremental-maintenance contract); a membership
probe can false-POSITIVE (rate ≈ (1 − e^(−kn/m))^k) but NEVER
false-negative — the property the gate exhibits by probing every true
member.

Determinism and engine parity: hash i of value v is the repo's 60-bit
md5 device over the ROW-SALTED string ``v || '#i'`` (the CMS salting —
genuinely independent across the k rows where an XOR-constant scheme
would only relabel buckets), reduced mod m_bits.  The bitmap is rows
``(word, bits)`` with 63 data bits per BIGINT word (bit 63 — the sign
bit — stays unused, so ``1 << bit`` never overflows on either engine
and the words compare/hash identically).  Absent words mean 0.

Spark-first shape: build is one explode (k rows per value) + one
map-side-combined ``bit_or`` groupBy — shuffle ≤ m_words rows per
partition regardless of input.  Build and merge are the keyed
``sketchledger.bloom_state_build`` / ``bloom_state_merge``, the single
implementation of the family: ``keys=[]`` builds the plain filter
``(word, bits)`` every probe here reads, ``keys=["grp"]`` one filter per
group.  Probe joins the ≤ m_words sketch rows (broadcast) against the
probes' exploded positions and ANDs the k bit tests back together with
a ``min``.  Zero Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scholarmind_spark.operators.neardup import minhash_base, minhash_base_sql

BITS_PER_WORD = 63
_MAX_K = 16


def _check(m_words: int, k: int) -> None:
    if m_words < 1:
        raise ValueError("m_words must be >= 1")
    if not 1 <= k <= _MAX_K:
        raise ValueError(f"k must be in 1..{_MAX_K}")


def _positions(v: Column, m_words: int, k: int) -> list[Column]:
    m_bits = m_words * BITS_PER_WORD
    return [
        minhash_base(F.concat(v, F.lit(f"#{i}"))) % m_bits for i in range(k)
    ]


def word_and_mask_exprs() -> tuple[Column, Column]:
    """``(word, mask)`` over a frame with bigint column ``pos`` — THE
    home of the word/bit split on the build side
    (``sketchledger.bloom_state_build``), which the probes here must
    match bit for bit."""
    return (
        F.expr(f"pos div {BITS_PER_WORD}"),
        F.expr(
            f"shiftleft(cast(1 as bigint), cast(pos % {BITS_PER_WORD} as int))"
        ),
    )


def word_and_mask_sql() -> tuple[str, str]:
    """DuckDB twin of :func:`word_and_mask_exprs` over column ``pos``."""
    return (
        f"pos // {BITS_PER_WORD}",
        f"(1::BIGINT << (pos % {BITS_PER_WORD})::INT)",
    )


def bloom_contains(
    sketch: DataFrame,
    keys: DataFrame,
    col: str | Column,
    m_words: int = 256,
    k: int = 4,
) -> DataFrame:
    """``key, contained`` (int 0/1) for every distinct non-null key of
    ``keys`` — 1 iff ALL k probed bits are set.  ``m_words``/``k`` must
    equal the build-time values.  Guaranteed 1 for every key the filter
    was built from (no false negatives)."""
    _check(m_words, k)
    v = (F.col(col) if isinstance(col, str) else col).cast("string")
    probes = keys.select(v.alias("key")).where(F.col("key").isNotNull()).distinct()
    expanded = probes.select(
        "key",
        F.explode(F.array(*_positions(F.col("key"), m_words, k))).alias("pos"),
    ).select(
        "key",
        F.expr(f"pos div {BITS_PER_WORD}").alias("word"),
        (F.col("pos") % BITS_PER_WORD).cast("int").alias("bit"),
    )
    joined = expanded.join(F.broadcast(sketch), "word", "left")
    hit = (
        F.expr("shiftright(coalesce(bits, cast(0 as bigint)), bit)") % 2
    ).cast("int")
    return joined.groupBy("key").agg(F.min(hit).alias("contained"))


# ------------------------------------------------------------ SQL twins


def _positions_sql(v: str, m_words: int, k: int) -> list[str]:
    m_bits = m_words * BITS_PER_WORD
    out = []
    for i in range(k):
        salted = f"(({v}) || '#{i}')"
        out.append(f"({minhash_base_sql(salted)} % {m_bits})")
    return out


def bloom_build_sql(values_query: str, m_words: int = 256, k: int = 4) -> str:
    """DuckDB twin of ``bloom_state_build(df, [], "v", m_words, k)``
    over a subquery yielding ``v``."""
    _check(m_words, k)
    pos = " UNION ALL ".join(
        f"SELECT {p} AS pos FROM vals" for p in _positions_sql("v", m_words, k)
    )
    word_sql, mask_sql = word_and_mask_sql()
    return f"""
(WITH vals AS (SELECT v::VARCHAR AS v FROM ({values_query}) WHERE v IS NOT NULL),
 pos AS ({pos})
 SELECT {word_sql} AS word,
        bit_or({mask_sql})::BIGINT AS bits
 FROM pos GROUP BY 1)"""


def bloom_merge_sql(a: str, b: str) -> str:
    """DuckDB twin of ``bloom_state_merge(a, b)`` over two plain filters."""
    return (
        f"(SELECT word, bit_or(bits)::BIGINT AS bits FROM "
        f"(SELECT * FROM {a} UNION ALL SELECT * FROM {b}) GROUP BY word)"
    )


def bloom_contains_sql(
    sketch_query: str, keys_query: str, m_words: int = 256, k: int = 4
) -> str:
    """DuckDB twin of :func:`bloom_contains` — ``keys_query`` yields ``v``."""
    _check(m_words, k)
    pos = " UNION ALL ".join(
        f"SELECT key, {p} AS pos FROM probes"
        for p in _positions_sql("key", m_words, k)
    )
    return f"""
(WITH sk AS MATERIALIZED ({sketch_query}),
 probes AS (SELECT DISTINCT v::VARCHAR AS key FROM ({keys_query}) WHERE v IS NOT NULL),
 expanded AS ({pos})
 SELECT e.key,
        min(((coalesce(s.bits, 0) >> (e.pos % {BITS_PER_WORD})::INT) % 2)::INT)::INT
          AS contained
 FROM expanded e
 LEFT JOIN sk s ON s.word = e.pos // {BITS_PER_WORD}
 GROUP BY e.key)"""


def bloom_prune(
    df: DataFrame,
    col: str | Column,
    sketch: DataFrame,
    m_words: int = 256,
    k: int = 4,
) -> DataFrame:
    """Keep only rows whose key is PROBABLY in the filter — the
    row-level runtime join prefilter (Spark's own bloom runtime filters,
    LIP/sideways information passing in the warehouse literature).
    Because a Bloom filter never false-negatives, ``bloom_prune(probe,
    key, bloom_state_build(build, [], key)) JOIN build`` returns EXACTLY
    the rows of the unpruned join — only the shuffled probe volume
    shrinks (by 1 − selectivity − FPR).  NULL keys are dropped (they
    join nothing).

    Shape: the whole ≤ m_words-row sketch folds into ONE map value
    (word → bits) crossJoin-broadcast to the probe side, and the k bit
    tests evaluate as a pure per-row conjunction over map lookups —
    ZERO shuffle on the probe side, no explode, no regroup; the probe
    plan is a filter, exactly what a runtime row filter must be."""
    from functools import reduce

    _check(m_words, k)
    v = (F.col(col) if isinstance(col, str) else col).cast("string")
    bitmap = sketch.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("word"), F.col("bits")))
        ).alias("__bm")
    )
    tagged = (
        df.where(v.isNotNull())
        .withColumn("__bk", v)
        .crossJoin(F.broadcast(bitmap))
    )
    # one source of truth for the bit positions: the SAME _positions()
    # bloom_state_build writes with (a hand-inlined copy of the hash
    # device here could silently diverge and break never-false-negative).
    # The bit test is bits & 2^bit: the mask is computed via double
    # pow(2, bit) — exact for every power of two ≤ 2^62 (bit ≤ 62 by
    # construction), and the AND stays in bigint (bits itself never
    # passes through a double).
    tests = []
    for p in _positions(F.col("__bk"), m_words, k):
        word_c = ((p - (p % BITS_PER_WORD)) / BITS_PER_WORD).cast("bigint")
        # try_element_at: explicitly NULL on a missing map key in ALL
        # modes (plain element_at's ANSI behavior has flip-flopped
        # between NULL and MAP_KEY_DOES_NOT_EXIST across Spark
        # versions, and a sparse production filter WILL probe absent
        # words even though the dense unit fixtures never do)
        bits_c = F.coalesce(
            F.try_element_at(F.col("__bm"), word_c),
            F.lit(0).cast("bigint"),
        )
        mask = F.pow(F.lit(2.0), p % BITS_PER_WORD).cast("bigint")
        tests.append(bits_c.bitwiseAND(mask) != 0)
    return tagged.where(reduce(lambda a, b: a & b, tests)).select(*df.columns)


def bloom_prune_sql(
    table_query: str,
    key_expr: str,
    sketch_query: str,
    m_words: int = 256,
    k: int = 4,
) -> str:
    """DuckDB twin of :func:`bloom_prune` — returns rows of
    ``table_query`` whose ``key_expr`` probes all-set."""
    _check(m_words, k)
    contains = bloom_contains_sql(
        sketch_query,
        f"SELECT ({key_expr})::VARCHAR AS v FROM ({table_query})",
        m_words,
        k,
    )
    return f"""
(SELECT t.* FROM ({table_query}) t
 SEMI JOIN (SELECT key AS __bpk FROM {contains} WHERE contained = 1) c
 ON ({key_expr})::VARCHAR = c.__bpk)"""
