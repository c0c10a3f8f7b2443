"""Declared query battery: every operator from SURVEY.md §2 plus the
training-data-pipeline extensions, each as a (Spark callable, DuckDB oracle
SQL) pair over the driver's testdata tables.

Cross-engine determinism rules used throughout:
- money/value sums go through ``DECIMAL(18,2)`` so both engines sum exactly,
  then cast to DOUBLE and round — no FP-accumulation-order drift;
- ratios/averages are rounded (4-6 dp) far above the 1e-12 FP noise floor;
- timestamps are returned as epoch seconds (BIGINT) or 'yyyy-MM-dd' strings;
- every window/top-k has a total-order tiebreak;
- aggregate/computed columns carry identical aliases on both sides.
"""

from __future__ import annotations

import json
import weakref
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scholarmind_spark.functions.doi import doi_norm, doi_norm_sql
from scholarmind_spark.functions.links import first_non_empty
from scholarmind_spark.operators.dedup import dedup_exact, priority_dedup
from scholarmind_spark.operators.enrich import enrich_with_metrics
from scholarmind_spark.operators.neardup import (
    minhash_lsh_pairs,
    minhash_lsh_pairs_sql,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_sql,
    simhash_pairs,
    simhash_pairs_sql,
)
from scholarmind_spark.operators.similarity import (
    ann_lsh_topk_sql,
    ivf_topk_sql,
    cosine_topk,
    cosine_topk_sql,
    embedding_neardup_pairs_sql,
)
from scholarmind_spark.operators.textstats import (
    bpe_token_count,
    bpe_token_count_sql,
    doc_top_terms_sql,
    fingerprint,
    fingerprint_sql,
    lang_id,
    lang_id_sql,
    punct_ratio,
    punct_ratio_sql,
    quality_score,
    quality_score_sql,
    stopword_ratio,
    stopword_ratio_sql,
    token_count,
    token_count_sql,
    token_topk_sql,
    word_repetition_sql,
)
from scholarmind_spark.operators.union import union_sources

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (Spark query, DuckDB oracle SQL) in registration order; the
# SPARK_QUERIES / ORACLE_SQL views at the end of the module derive from it
_GATES: dict[str, tuple[QueryFn, str]] = {}


def gate(name: str, fn: QueryFn, oracle: str) -> None:
    """Register one gate: the Spark query ``fn`` and the DuckDB ``oracle``
    SQL its result must match.  Called once per gate, next to its oracle."""
    if name in _GATES:
        raise ValueError(f"gate {name!r} is already registered")
    _GATES[name] = (fn, oracle)


ANN_QUERY_IDS = [0, 1, 2, 3, 4]


# sessions already tuned by _tune (weak: a stopped session's entry must
# not pin the JVM gateway objects alive)
_TUNED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _tune(spark: SparkSession) -> None:
    """Defensive runtime confs so a CALLER-SUPPLIED vanilla session (the
    driver's correctness harness) behaves like the factory session the
    battery is tested on.  Both are runtime-settable and semantics-safe
    for this corpus:

    - JVM case mapping instead of ICU: pure perf (the ICU path costs ~70 s
      on its first lower()/upper() per JVM on Spark 4.1; data is ASCII so
      results are identical — and the oracle comparisons were all verified
      with this setting).
    - UTC session timezone, matching the factory pin and DuckDB's naive
      timestamp arithmetic."""
    # once per session: each conf.set is a py4j round-trip, and _t runs
    # on every table load of every query construction
    if spark in _TUNED:
        return
    # independent settings, independent try blocks: if the ICU conf is
    # immutable on a deployment, the UTC pin must still land (a shared
    # block silently skipped it and every timestamp gate shifted by the
    # driver host's timezone)
    try:
        spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    except Exception:
        pass  # immutable on some deployments; pure perf either way
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # factory session already pins UTC
    try:
        # nanos-as-long BEFORE any events load: with _t memoizing the
        # first analyzed frame per session, the events schema must not
        # depend on whether _events (which used to set this) ran first
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # factory session already sets it
    _TUNED.add(spark)


# Loader memo (r15): `spark.read.parquet` builds a fresh file index and
# re-reads footers on EVERY call — pure driver-side plan-construction
# cost, re-paid per query construction (fk_audit alone loads 14 tables;
# the bench constructs every query per rep).  Reusing the DataFrame
# object reuses its resolved relation/file listing — the Spark-native
# listing-cache behavior — while every EXECUTION still scans parquet:
# no row is cached (the memoized frame is never persisted), so bench and
# oracle runs keep computing from the files.  Keyed on the live session
# (the _CC_MEMO pattern); stale-session entries are dropped on miss.
_T_MEMO: dict[tuple, DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _tune(spark)
    key = (spark, sf_dir, name)
    df = _T_MEMO.get(key)
    if df is None:
        for k in list(_T_MEMO):
            if k[0] is not spark:
                del _T_MEMO[k]
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _T_MEMO[key] = df
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with a real TimestampType ``ts``.

    The driver writes ``ts`` as parquet TIMESTAMP(NANOS); Spark reads it as
    LongType nanos under ``spark.sql.legacy.parquet.nanosAsLong``.  Convert
    with integer division — going through a DOUBLE would lose precision at
    2^63-scale nanos.

    The conf is applied by ``_tune`` (once per session, before ANY table
    load) so the read works on a caller-supplied vanilla SparkSession
    regardless of which events consumer runs first — load-order matters
    now that ``_t`` memoizes the first analyzed frame.
    """
    e = _t(spark, sf_dir, "events")
    if dict(e.dtypes).get("ts") == "bigint":
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return e


def _dec(c):
    return c.cast("decimal(18,2)")


# --------------------------------------------------------------- TPC-H-ish

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-agg with 8 aggregates (SURVEY §2.4 —
    grouped aggregations Spark provides natively)."""
    l = _t(spark, sf_dir, "lineitem")
    disc_price = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"))
    # (1-d)*(1+t) collapsed to ONE decimal(18,4) factor: a decimal*decimal*
    # decimal chain overflows 38 digits and the engines' precision-loss
    # rules differ — this keeps both sides exact.
    charge = _dec(F.col("l_extendedprice")) * (
        (F.lit(1) - F.col("l_discount")) * (F.lit(1) + F.col("l_tax"))
    ).cast("decimal(18,4)")
    return (
        l.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1999-12-31")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec(F.col("l_quantity"))).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(_dec(F.col("l_extendedprice"))).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(charge).cast("double"), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity::DECIMAL(18,2))::DOUBLE, 2) AS sum_qty,
       round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE, 2) AS sum_base_price,
       round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2))::DOUBLE, 2) AS sum_disc_price,
       round(sum(l_extendedprice::DECIMAL(18,2) * ((1 - l_discount) * (1 + l_tax))::DECIMAL(18,4))::DOUBLE, 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-31'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
gate("q1_pricing_summary", q1_pricing_summary, Q1_SQL)


def q3_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-10."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1997-01-01"))
    )
    revenue = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2))::DOUBLE, 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate  > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""
gate("q3_top_unshipped", q3_top_unshipped, Q3_SQL)


def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join; dims broadcast, fact shuffles once."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_SQL = """
SELECT n_name,
       round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2))::DOUBLE, 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""
gate("q5_regional_revenue", q5_regional_revenue, Q5_SQL)


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + single agg (predicate pushdown showcase)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.09)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(_dec(F.col("l_extendedprice")) * _dec(F.col("l_discount"))).cast("double"),
                2,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q6_SQL = """
SELECT round(sum(l_extendedprice::DECIMAL(18,2) * l_discount::DECIMAL(18,2))::DOUBLE, 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.09
  AND l_quantity < 24
"""
gate("q6_forecast_revenue", q6_forecast_revenue, Q6_SQL)


def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group (SURVEY §2.5 — Spark Window covers natively)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("n_name", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "rank")
    )


Q_TOPCUST_SQL = """
SELECT n_name, c_custkey, round(c_acctbal, 2) AS acctbal, rank::INT AS rank
FROM (
  SELECT n_name, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer JOIN nation ON c_nationkey = n_nationkey
) WHERE rank <= 3
"""
gate("top_customers_per_nation", q_top_customers_per_nation, Q_TOPCUST_SQL)


def q_rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-sets aggregation."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(_dec(F.col("o_totalprice"))).cast("double"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


Q_ROLLUP_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       round(sum(o_totalprice::DECIMAL(18,2))::DOUBLE, 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""
gate("rollup_order_stats", q_rollup_order_stats, Q_ROLLUP_SQL)


# ------------------------------------------------- literature-semantics (§2)

_LIT_BASE_SQL = (
    "'10.' || ((doc_id % 50) + 1000)::VARCHAR || '/x' || (doc_id % 50)::VARCHAR"
)

# Synthesized title: 60 letter-coded groups (repeated-letter tokens keep
# cross-group edit distance >= 3, beyond the fuzzy pass's max_dist=2),
# three within-group variants ('' / ' draft' / ' draf' — the latter two 1
# edit apart), upper-cased on even ids and a doubled space on %7 rows to
# exercise the lower/collapse normalization, NULL on %11 rows to exercise
# the no-title exemption.  ASCII-only by construction (fuzzy_link_sql's
# levenshtein counts bytes).
_LIT_TITLE_SQL = (
    "'study' || CASE WHEN doc_id % 7 = 0 THEN '  of ' ELSE ' of ' END"
    " || repeat(chr((97 + (doc_id % 60) % 26)::INTEGER), 4)"
    " || repeat(chr((97 + (doc_id % 60) // 26)::INTEGER), 3)"
    " || ' corpus analysis'"
    " || CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN ' draft' ELSE ' draf' END"
)

_LIT_REC_SQL = f"""
  SELECT doc_id AS record_id,
         CASE doc_id % 4 WHEN 0 THEN 'wos' WHEN 1 THEN 'pubmed'
              WHEN 2 THEN 'sciencedirect' ELSE 'other' END AS source_type,
         CASE WHEN doc_id % 13 = 0 THEN ''
              WHEN doc_id % 17 = 0 THEN NULL
              WHEN doc_id % 5 = 1 THEN 'https://doi.org/' || upper({_LIT_BASE_SQL})
              WHEN doc_id % 5 = 2 THEN 'doi:' || {_LIT_BASE_SQL} || ' '
              WHEN doc_id % 5 = 3 THEN {_LIT_BASE_SQL} || ' [doi]'
              WHEN doc_id % 5 = 4 THEN 'pii0, ' || {_LIT_BASE_SQL}
              ELSE {_LIT_BASE_SQL} END AS doi,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              WHEN doc_id % 2 = 0 THEN upper({_LIT_TITLE_SQL})
              ELSE {_LIT_TITLE_SQL} END AS title
  FROM documents
"""


def _lit_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized literature-shaped records over the documents table:
    deterministic DOI variants exercising every D1 branch, 4 source types,
    null/empty DOIs — the reference's dedup input shape (FIXTURES.md §1)."""
    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    base = F.concat(
        F.lit("10."),
        ((doc_id % 50) + 1000).cast("string"),
        F.lit("/x"),
        (doc_id % 50).cast("string"),
    )
    source_type = (
        F.when(doc_id % 4 == 0, F.lit("wos"))
        .when(doc_id % 4 == 1, F.lit("pubmed"))
        .when(doc_id % 4 == 2, F.lit("sciencedirect"))
        .otherwise(F.lit("other"))
    )
    doi = (
        F.when(doc_id % 13 == 0, F.lit(""))
        .when(doc_id % 17 == 0, F.lit(None).cast("string"))
        .when(doc_id % 5 == 1, F.concat(F.lit("https://doi.org/"), F.upper(base)))
        .when(doc_id % 5 == 2, F.concat(F.lit("doi:"), base, F.lit(" ")))
        .when(doc_id % 5 == 3, F.concat(base, F.lit(" [doi]")))
        .when(doc_id % 5 == 4, F.concat(F.lit("pii0, "), base))
        .otherwise(base)
    )
    g = doc_id % 60
    title_base = F.concat(
        F.lit("study"),
        F.when(doc_id % 7 == 0, F.lit("  of ")).otherwise(F.lit(" of ")),
        F.repeat(F.char(F.lit(97) + g % 26), 4),
        F.repeat(F.char(F.lit(97) + F.expr("(doc_id % 60) div 26")), 3),
        F.lit(" corpus analysis"),
        F.when(doc_id % 3 == 0, F.lit(""))
        .when(doc_id % 3 == 1, F.lit(" draft"))
        .otherwise(F.lit(" draf")),
    )
    title = F.when(doc_id % 11 == 0, F.lit(None).cast("string")).otherwise(
        F.when(doc_id % 2 == 0, F.upper(title_base)).otherwise(title_base)
    )
    return d.select(
        doc_id.alias("record_id"),
        source_type.alias("source_type"),
        doi.alias("doi"),
        title.alias("title"),
    )


def lit_doi_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 DOI normalization over every synthesized variant."""
    return _lit_records(spark, sf_dir).select(
        "record_id", doi_norm(F.col("doi")).alias("doi_norm")
    )


LIT_DOI_NORM_SQL = f"""
WITH rec AS ({_LIT_REC_SQL})
SELECT record_id, {doi_norm_sql('doi')} AS doi_norm FROM rec
"""
gate("lit_doi_norm", lit_doi_norm, LIT_DOI_NORM_SQL)


def lit_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 priority dedup: survivors by source priority with null/empty-DOI
    exemption and record_id tiebreak."""
    rec = _lit_records(spark, sf_dir)
    return priority_dedup(rec, tiebreak="record_id", keep_key=True).select(
        "record_id", "source_type", "doi_norm"
    )


LIT_DEDUP_SQL = f"""
WITH rec AS ({_LIT_REC_SQL}),
norm AS (
  SELECT record_id, source_type, {doi_norm_sql('doi')} AS doi_norm,
         CASE source_type WHEN 'wos' THEN 3 WHEN 'pubmed' THEN 2
              WHEN 'sciencedirect' THEN 1 ELSE 0 END AS prio
  FROM rec
),
ranked AS (
  SELECT record_id, source_type, doi_norm,
         CASE WHEN doi_norm IS NULL OR doi_norm = '' THEN 1
              ELSE row_number() OVER (PARTITION BY doi_norm
                                      ORDER BY prio DESC, record_id ASC)
         END AS rn
  FROM norm
)
SELECT record_id, source_type, coalesce(doi_norm, '') AS doi_norm
FROM ranked WHERE rn = 1
"""
gate("lit_priority_dedup", lit_priority_dedup, LIT_DEDUP_SQL)


def lit_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 + the null-DOI second pass the reference lacks (main.py:104-151
    never dedups records without a DOI): no-DOI survivors of the priority
    pass are near-dup'd on the normalized title within 2 edits
    (operators.dedup.fuzzy_title_dedup — lossless PassJoin candidates,
    single-pass dominance, same source-priority survivor rule)."""
    from scholarmind_spark.util import attach_caches

    rec = _lit_records(spark, sf_dir)
    deduped = priority_dedup(
        rec, tiebreak="record_id", keep_key=True, fuzzy_nodoi=True
    )
    # .select() creates a NEW DataFrame without the _sm_caches tag —
    # re-attach so release_caches() on the gate output frees the
    # operator's persisted relations
    out = deduped.select("record_id", "source_type", "doi_norm")
    return attach_caches(out, list(getattr(deduped, "_sm_caches", ())))


def _lit_fuzzy_dedup_sql() -> str:
    from scholarmind_spark.operators.dedup import (
        NUMERAL_TOKEN_RE,
        TITLE_MAX_DF,
    )
    from scholarmind_spark.operators.linkage import fuzzy_link_sql

    # Java's \s explicitly ([ \t\n\x0B\f\r]) — RE2's \s lacks \x0B, and
    # the Spark side (title_norm) runs Java \s+; spelling the class out
    # keeps the twins aligned on vertical-tab whitespace
    tk = "trim(regexp_replace(lower(title), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"

    def nums(c: str) -> str:
        return (
            f"array_to_string(list_filter(string_split({c}, ' '),"
            f" t -> regexp_matches(t, '{NUMERAL_TOKEN_RE}')), ' ')"
        )

    return f"""
WITH rec AS ({_LIT_REC_SQL}),
norm AS (
  SELECT record_id, source_type, title, {doi_norm_sql('doi')} AS doi_norm,
         CASE source_type WHEN 'wos' THEN 3 WHEN 'pubmed' THEN 2
              WHEN 'sciencedirect' THEN 1 ELSE 0 END AS prio
  FROM rec
),
ranked AS (
  SELECT record_id, source_type, title, doi_norm, prio,
         CASE WHEN doi_norm IS NULL OR doi_norm = '' THEN 1
              ELSE row_number() OVER (PARTITION BY doi_norm
                                      ORDER BY prio DESC, record_id ASC)
         END AS rn
  FROM norm
),
pass1 AS (
  SELECT record_id, source_type, title, doi_norm, prio FROM ranked WHERE rn = 1
),
nodoi AS (
  SELECT record_id, prio, {tk} AS tk
  FROM pass1
  WHERE (doi_norm IS NULL OR doi_norm = '')
        AND title IS NOT NULL AND {tk} <> ''
),
best AS (  -- per-key (max prio, then min id) survivor candidate
  SELECT n.tk, b.bp, min(n.record_id) AS bid
  FROM nodoi n
  JOIN (SELECT tk, max(prio) AS bp FROM nodoi GROUP BY tk) b
    ON n.tk = b.tk AND n.prio = b.bp
  GROUP BY n.tk, b.bp
),
keys_ok AS (  -- hot-title cap: degenerate keys skip the fuzzy side
  SELECT tk FROM nodoi GROUP BY tk HAVING count(*) <= {TITLE_MAX_DF}
),
pairs0 AS ({fuzzy_link_sql('keys_ok', 'tk', max_dist=2)}),
pairs AS (  -- numeral guard: 'part i' vs 'part ii' never merges
  SELECT a, b FROM pairs0 WHERE {nums('a')} = {nums('b')}
),
edges AS (
  SELECT a AS ka, b AS kb FROM pairs
  UNION ALL SELECT b AS ka, a AS kb FROM pairs
),
dom AS (
  SELECT l.record_id FROM nodoi l JOIN best b ON l.tk = b.tk
  WHERE b.bp > l.prio OR (b.bp = l.prio AND b.bid < l.record_id)
  UNION
  SELECT l.record_id
  FROM nodoi l JOIN edges e ON l.tk = e.ka JOIN best b ON b.tk = e.kb
  WHERE b.bp > l.prio OR (b.bp = l.prio AND b.bid < l.record_id)
)
SELECT record_id, source_type, coalesce(doi_norm, '') AS doi_norm
FROM pass1
WHERE record_id NOT IN (SELECT record_id FROM dom)
"""


gate("lit_fuzzy_dedup", lit_fuzzy_dedup, _lit_fuzzy_dedup_sql())


def lit_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6/D7/A2: per-source link builders + first-non-empty title_link."""
    rec = _lit_records(spark, sf_dir)
    doc_id = F.col("record_id")
    pmid = F.when(F.col("source_type") == "pubmed", doc_id.cast("string"))
    wos_id = F.when(
        F.col("source_type") == "wos", F.concat(F.lit("WOS:"), doc_id.cast("string"))
    )
    url = F.when(
        F.col("source_type") == "sciencedirect",
        F.concat(F.lit("https://www.sciencedirect.com/science/article/pii/S"), doc_id.cast("string")),
    )
    nrm = doi_norm(F.col("doi"))
    doi_link_c = F.when(
        nrm.isNotNull() & (nrm != ""), F.concat(F.lit("https://doi.org/"), nrm)
    ).otherwise(F.lit(""))
    pubmed_link = F.when(
        pmid.isNotNull(), F.concat(F.lit("https://pubmed.ncbi.nlm.nih.gov/"), pmid, F.lit("/"))
    ).otherwise(F.lit(""))
    wos_link = F.when(
        wos_id.isNotNull(),
        F.concat(F.lit("https://www.webofscience.com/wos/woscc/full-record/"), wos_id),
    ).otherwise(F.lit(""))
    sd_link = F.coalesce(url, F.lit(""))
    return rec.select(
        "record_id",
        pubmed_link.alias("pubmed_link"),
        wos_link.alias("wos_link"),
        sd_link.alias("sciencedirect_link"),
        doi_link_c.alias("doi_link"),
        first_non_empty(wos_link, pubmed_link, sd_link, doi_link_c).alias("title_link"),
    )


_LIT_LINKS_INNER = f"""
  SELECT record_id,
         CASE WHEN source_type = 'pubmed'
              THEN 'https://pubmed.ncbi.nlm.nih.gov/' || record_id::VARCHAR || '/'
              ELSE '' END AS pubmed_link,
         CASE WHEN source_type = 'wos'
              THEN 'https://www.webofscience.com/wos/woscc/full-record/WOS:' || record_id::VARCHAR
              ELSE '' END AS wos_link,
         CASE WHEN source_type = 'sciencedirect'
              THEN 'https://www.sciencedirect.com/science/article/pii/S' || record_id::VARCHAR
              ELSE '' END AS sciencedirect_link,
         CASE WHEN {doi_norm_sql('doi')} IS NOT NULL AND {doi_norm_sql('doi')} <> ''
              THEN 'https://doi.org/' || {doi_norm_sql('doi')}
              ELSE '' END AS doi_link
  FROM rec
"""

LIT_LINKS_SQL = f"""
WITH rec AS ({_LIT_REC_SQL}),
links AS ({_LIT_LINKS_INNER})
SELECT record_id, pubmed_link, wos_link, sciencedirect_link, doi_link,
       coalesce(nullif(wos_link, ''), nullif(pubmed_link, ''),
                nullif(sciencedirect_link, ''), nullif(doi_link, ''), '') AS title_link
FROM links
"""
gate("lit_links", lit_links, LIT_LINKS_SQL)


def lit_year_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 publication-year extraction over mixed date formats."""
    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    pub_date = (
        F.when(doc_id % 3 == 0, F.lit("2023 Mar 15"))
        .when(doc_id % 3 == 1, (F.lit(1990) + doc_id % 30).cast("string"))
        .otherwise(F.lit(None).cast("string"))
    )
    year = F.nullif(
        F.trim(F.regexp_extract(F.coalesce(pub_date, F.lit("")), r"(\d{4})", 1)), F.lit("")
    )
    return d.select(doc_id.alias("record_id"), year.alias("publication_year"))


LIT_YEAR_SQL = r"""
WITH rec AS (
  SELECT doc_id AS record_id,
         CASE WHEN doc_id % 3 = 0 THEN '2023 Mar 15'
              WHEN doc_id % 3 = 1 THEN (1990 + doc_id % 30)::VARCHAR
              ELSE NULL END AS pub_date
  FROM documents
)
SELECT record_id,
       nullif(trim(regexp_extract(coalesce(pub_date, ''), '(\d{4})', 1)), '') AS publication_year
FROM rec
"""
gate("lit_year_extract", lit_year_extract, LIT_YEAR_SQL)


def lit_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U0 ragged multi-source union (unionByName allowMissingColumns)."""
    d = _t(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("record_id"),
        F.col("text").alias("abstract"),
        F.lit("pubmed").alias("source_type"),
    )
    b = d.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("record_id"),
        F.col("lang").alias("language"),
        F.lit("wos").alias("source_type"),
    )
    return union_sources([a, b]).select("record_id", "abstract", "language", "source_type")


LIT_UNION_SQL = """
SELECT doc_id AS record_id, text AS abstract, NULL AS language, 'pubmed' AS source_type
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id AS record_id, NULL AS abstract, lang AS language, 'wos' AS source_type
FROM documents WHERE doc_id % 2 = 1
"""
gate("lit_union_sources", lit_union_sources, LIT_UNION_SQL)


def lit_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 broadcast enrichment join with ''-fill for unmatched keys."""
    d = _t(spark, sf_dir, "documents")
    rec = d.select(
        F.col("doc_id").alias("record_id"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.upper(F.col("lang")))
        .alias("journal"),
    )
    metrics = (
        d.select(F.col("lang").alias("journal_norm"))
        .filter(F.col("journal_norm") != "zh")
        .distinct()
        .select(
            "journal_norm",
            F.concat(F.lit("IF-"), F.col("journal_norm")).alias("impact_factor"),
            F.concat(F.lit("Q-"), F.col("journal_norm")).alias("sci"),
            F.concat(F.lit("Z-"), F.col("journal_norm")).alias("CAS_Zone"),
        )
    )
    return enrich_with_metrics(rec, metrics).select(
        "record_id", "journal", "impact_factor", "sci", "CAS_Zone"
    )


LIT_ENRICH_SQL = """
WITH rec AS (
  SELECT doc_id AS record_id,
         CASE WHEN doc_id % 7 = 0 THEN NULL ELSE upper(lang) END AS journal
  FROM documents
),
metrics AS (
  SELECT DISTINCT lang AS journal_norm,
         'IF-' || lang AS impact_factor,
         'Q-' || lang AS sci,
         'Z-' || lang AS "CAS_Zone"
  FROM documents WHERE lang <> 'zh'
)
SELECT record_id, journal,
       coalesce(impact_factor, '') AS impact_factor,
       coalesce(sci, '') AS sci,
       coalesce("CAS_Zone", '') AS "CAS_Zone"
FROM rec LEFT JOIN metrics ON lower(trim(journal)) = journal_norm
"""
gate("lit_enrich_join", lit_enrich_join, LIT_ENRICH_SQL)


def q4_returned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS subquery → LEFT SEMI join (no row
    multiplication, the probe side short-circuits per key)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    returned = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
gate("q4_returned_orders", q4_returned_orders, Q4_SQL)


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → LEFT ANTI join, counted per nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_name")
    )


Q_ANTI_SQL = """
SELECT n_name, count(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
ORDER BY n_name
"""
gate("customers_without_orders", q_customers_without_orders, Q_ANTI_SQL)


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact⋈dim broadcast join + conditional aggregation."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-07-01")))
    )
    p = _t(spark, sf_dir, "part")
    rev = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"))
    # divide in DOUBLE, not DECIMAL: DuckDB executes decimal/decimal in
    # double while Spark does exact decimal division truncated under
    # allowPrecisionLoss — double-rounding divergence (same rule as Q8).
    # The SUMS stay decimal (exact, order-free); only the quotient is FP,
    # and both engines then run the identical IEEE ops on identical sums.
    return l.join(F.broadcast(p), l.l_partkey == p.p_partkey).agg(
        F.round(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(
                    F.lit(0).cast("decimal(18,2)")
                )
            ).cast("double")
            * 100
            / F.sum(rev).cast("double"),
            4,
        ).alias("promo_pct"),
        F.round(F.sum(rev).cast("double"), 2).alias("total_revenue"),
    )


Q14_SQL = """
SELECT round(sum(CASE WHEN p_type = 'PROMO'
                       THEN l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2)
                       ELSE 0::DECIMAL(18,2) END)::DOUBLE * 100
              / sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2))::DOUBLE, 4) AS promo_pct,
       round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2))::DOUBLE, 2) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1996-07-01'
"""
gate("q14_promo_revenue", q14_promo_revenue, Q14_SQL)


def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: 5-way join chain (fact → orders → customer →
    nation, fact → supplier → nation) with cross-nation pair filter and
    per-(pair, year) revenue.  Every dimension broadcasts; the fact table
    shuffles once for the final aggregation."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    rev = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"))
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nkey"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
    )
    return (
        j.groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("l_year"))
        # round the EXACT decimal, then cast: rounding after a double cast
        # flips a cent on .xx5-boundary groups (4 of 4188 at sf0.01)
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy("cust_nation", "supp_nation", "l_year")
    )


Q7_SQL = """
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
       year(l_shipdate) AS l_year,
       round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2)), 2)::DOUBLE AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""
gate("q7_nation_trade", q7_nation_trade, Q7_SQL)


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: group-HAVING on the fact, then join the surviving
    keys back to the dimensions — top volume customers, deterministic
    top-20."""
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_date"),
            F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
            F.round(F.col("sum_qty").cast("double"), 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       floor(epoch(o_orderdate))::BIGINT AS o_date,
       round(o_totalprice, 2) AS o_totalprice,
       round(sum_qty::DOUBLE, 2) AS total_qty
FROM (SELECT l_orderkey, sum(l_quantity::DECIMAL(18,2)) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 150) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""
gate("q18_large_orders", q18_large_orders, Q18_SQL)


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (avg of positive balances, a
    driver-side collect of ONE value — the reference pattern for scalar
    subqueries) + anti-join (customers with no LARGE orders; every sf0.01
    customer has some order, so the large-order variant keeps the check
    non-degenerate), per-nation aggregate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    # the threshold comparison is cleared of division entirely:
    # bal > sum/n  ⟺  bal·n > sum  with bal/sum in exact DECIMAL and n a
    # bigint — no float avg (engine accumulation order), no rounding
    # algorithm (Python HALF_EVEN vs DuckDB's multiply-based round), no
    # boundary sliver.  The scalar still collects to the driver once —
    # the reference pattern for scalar subqueries.
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_dec(F.col("c_acctbal"))).alias("s"), F.count("*").alias("n")
    ).collect()[0]
    rich = c.filter(
        _dec(F.col("c_acctbal")) * F.lit(int(pos["n"])) > F.lit(pos["s"])
    )
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum(_dec(F.col("c_acctbal"))), 2).cast("double").alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


Q22_SQL = """
SELECT c_nationkey, count(*) AS n_cust,
       round(sum(c_acctbal::DECIMAL(18,2)), 2)::DOUBLE AS total_bal
FROM customer
WHERE c_acctbal::DECIMAL(18,2)
      * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
      > (SELECT sum(c_acctbal::DECIMAL(18,2)) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
GROUP BY c_nationkey ORDER BY c_nationkey
"""
gate("q22_idle_customers", q22_idle_customers, Q22_SQL)


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 7-way join (fact → part / orders → customer →
    nation → region, supplier → nation) with a conditional-share aggregate
    per year.  All six dimension sides broadcast; the fact shuffles once
    for the per-year aggregation.  The share divides DOUBLE casts of the
    exact decimal sums — a decimal÷decimal would hit engine-specific
    precision-loss rules."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1995-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("2001-01-01")))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"))
    j = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0))).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2)
                      ELSE 0 END)::DOUBLE
             / sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2))::DOUBLE,
             6) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '2001-01-01'
GROUP BY 1 ORDER BY 1
"""
gate("q8_market_share", q8_market_share, Q8_SQL)


def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: 5-way join, per-(nation, year) profit.  The testdata
    has no partsupp table, so ps_supplycost is proxied by
    0.6 × p_retailprice × l_quantity (the join SHAPE — part and supplier
    dimensions onto the fact, profit = revenue − cost — is Q9's).

    Decimal discipline: retailprice×quantity is cast to DECIMAL(18,2)
    (the true product has ≤2 decimals, so the nearest-2dp double rounding
    is unambiguous and engine-independent), THEN scaled by 0.6::DECIMAL —
    keeping every intermediate exact."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"))
    cost = F.lit(0.6).cast("decimal(2,1)") * (
        (F.col("p_retailprice") * F.col("l_quantity")).cast("decimal(18,2)")
    )
    j = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(rev - cost), 2).cast("double").alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2)
                 - 0.6::DECIMAL(2,1) * (p_retailprice * l_quantity)::DECIMAL(18,2)), 2)::DOUBLE AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""
gate("q9_profit_by_nation", q9_profit_by_nation, Q9_SQL)


def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer over a quarter,
    top 20.  Ordering happens on the EXACT decimal revenue (ties broken by
    custkey) before the presentation round."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-07-01")))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.sum(rev).alias("rev_dec"),
            F.round(F.max("c_acctbal"), 2).alias("c_acctbal"),
        )
        .orderBy(F.desc("rev_dec"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("rev_dec"), 2).cast("double").alias("revenue"),
            "c_acctbal",
            "nation",
        )
    )


Q10_SQL = """
SELECT c_custkey, c_name,
       round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2)), 2)::DOUBLE AS revenue,
       round(max(c_acctbal), 2) AS c_acctbal, n_name AS nation
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2)) DESC, c_custkey
LIMIT 20
"""
gate("q10_returned_customers", q10_returned_customers, Q10_SQL)


def q12_late_lines_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join with a lateness predicate, counting
    late vs total lines per class.  The testdata has no
    l_shipmode/commitdate/receiptdate, so lateness = shipped more than 90
    days after the order date, classed by order priority."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.when(late, F.lit(1))).alias("late_lines"),
            F.count("*").alias("total_lines"),
        )
        .orderBy("o_orderpriority")
    )


Q12_SQL = """
SELECT o_orderpriority,
       count(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 END) AS late_lines,
       count(*) AS total_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
"""
gate("q12_late_lines_by_priority", q12_late_lines_by_priority, Q12_SQL)


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer LEFT JOIN orders (with a predicate on the
    order side), per-customer order count, then the distribution of those
    counts — two cascaded aggregations."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey) per_cust
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""
gate("q13_order_count_distribution", q13_order_count_distribution, Q13_SQL)


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier, keep the supplier(s)
    achieving the maximum (scalar-subquery semantics via an all-rows window
    max over the tiny per-supplier aggregate — |suppliers| rows, so the
    single-partition window is safe at any corpus scale).  Equality is on
    the EXACT decimal."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"))
    per_supp = l.groupBy("l_suppkey").agg(F.sum(rev).alias("rev_dec"))
    w = Window.partitionBy()
    top = per_supp.withColumn("max_rev", F.max("rev_dec").over(w)).filter(
        F.col("rev_dec") == F.col("max_rev")
    )
    return (
        top.join(F.broadcast(s), top.l_suppkey == s.s_suppkey)
        .select(
            F.col("s_suppkey"),
            "s_name",
            F.round(F.col("rev_dec"), 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey, sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2)) AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(rev_dec, 2)::DOUBLE AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_dec = (SELECT max(rev_dec) FROM revenue)
ORDER BY s_suppkey
"""
gate("q15_top_supplier", q15_top_supplier, Q15_SQL)


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lines whose quantity is below half the part's
    average quantity (correlated-average semantics as a per-part aggregate
    joined back).  The comparison ``qty < 0.5 × sum/cnt`` is algebraically
    flipped to ``2 × qty × cnt < sum`` so both engines compare EXACT
    integers/decimals instead of an engine-ordering-dependent double
    average.  p_container doesn't exist in the testdata; the part filter
    is brand + type."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#4") & (F.col("p_type") == "PROMO")
    )
    l = _t(spark, sf_dir, "lineitem")
    lp = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    per_part = lp.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(_dec(F.col("l_quantity"))).alias("sum_qty"),
        F.count("*").alias("cnt"),
    )
    small = lp.join(F.broadcast(per_part), lp.l_partkey == F.col("pk")).filter(
        _dec(F.col("l_quantity")) * 2 * F.col("cnt") < F.col("sum_qty")
    )
    return small.agg(
        F.round(
            (F.sum(_dec(F.col("l_extendedprice"))).cast("double") / F.lit(7.0)), 2
        ).alias("avg_yearly")
    )


Q17_SQL = """
WITH lp AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#4' AND p_type = 'PROMO'
),
per_part AS (
  SELECT l_partkey AS pk, sum(l_quantity::DECIMAL(18,2)) AS sum_qty, count(*) AS cnt
  FROM lp GROUP BY 1
)
SELECT round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE / 7.0, 2) AS avg_yearly
FROM lp JOIN per_part ON l_partkey = pk
WHERE l_quantity::DECIMAL(18,2) * 2 * cnt < sum_qty
"""
gate("q17_small_qty_revenue", q17_small_qty_revenue, Q17_SQL)


def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: one scan, broadcast part join, disjunction of three
    (brand, size-range, quantity-range) brackets — Catalyst pushes the
    common part-side conjuncts into the broadcast build side.  p_container
    doesn't exist; brackets use brand + size."""
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    rev = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"))
    q = F.col("l_quantity")
    bracket = (
        ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#19") & F.col("p_size").between(1, 50) & q.between(20, 30))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(bracket)
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


Q19_SQL = """
SELECT round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2)), 2)::DOUBLE AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 30)
"""
gate("q19_bracket_revenue", q19_bracket_revenue, Q19_SQL)


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier order.  The classic EXISTS / NOT EXISTS pair collapses
    into one per-order aggregate (distinct suppliers; distinct late
    suppliers; the unique culprit when exactly one) — a single shuffle on
    orderkey instead of two correlated self-joins, the shape that survives
    a 100× fact table.  No commit/receipt dates in the testdata: late =
    shipped >60 days after the order date; status F orders only."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_order = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
            F.min(F.when(late, F.col("l_suppkey"))).alias("culprit"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        per_order.join(F.broadcast(s), per_order.culprit == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


Q21_SQL = """
WITH per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS n_late,
         min(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS culprit
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey
  HAVING n_supp > 1 AND n_late = 1
)
SELECT s_name, count(*) AS numwait
FROM per_order JOIN supplier ON culprit = s_suppkey
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10
"""
gate("q21_waiting_suppliers", q21_waiting_suppliers, Q21_SQL)


def orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function battery: per-customer running revenue, order rank,
    and gap to the previous order (rows-frame running sum + rank + lag in
    one window pass)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.round(
            F.sum(_dec(F.col("o_totalprice"))).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("double"),
            2,
        ).alias("running_revenue"),
        F.datediff(
            "o_orderdate", F.lag("o_orderdate").over(w)
        ).alias("days_since_prev"),
    )


Q_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       row_number() OVER w AS order_seq,
       round((sum(o_totalprice::DECIMAL(18,2))
              OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS UNBOUNDED PRECEDING))::DOUBLE, 2) AS running_revenue,
       date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""
gate("orders_running_total", orders_running_total, Q_RUNNING_SQL)


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group (exact — the oracle-comparable form; the
    100 TB variant swaps in approx_count_distinct, same plan shape with a
    sketch instead of a distinct shuffle)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


Q_DISTINCT_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""
gate("distinct_users_per_type", q_distinct_users, Q_DISTINCT_SQL)


# ------------------------------------------- parser round-trips (S1/S2/S5)
# Synthesize tagged-text records from `documents` INSIDE Spark, run the real
# record parsers (mapInPandas), and have DuckDB recompute the expected
# fields directly — proving tag routing, multi-value accumulation,
# continuation folding, and marker stripping against an oracle.

def _s(c) -> object:
    return c.cast("string")


def lit_parse_pubmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 round-trip: PMID/TI/AB(+continuation)/DP/AU×2/TA/AID[doi], plus the
    extended tag map (CRDT/SO, pubmed_parser.py:138-141) and PHST
    accumulation (MULTI_FIELDS, pubmed_parser.py:32)."""
    from scholarmind_spark.sources.base import parse_records_df
    from scholarmind_spark.sources.pubmed import parse_pubmed_file

    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    rec_text = F.concat_ws(
        "\n",
        F.concat(F.lit("PMID- "), _s(doc_id)),
        F.concat(F.lit("TI  - Title "), _s(doc_id)),
        F.concat(F.lit("AB  - "), F.col("text")),
        F.lit("      (cont)"),
        F.concat(F.lit("DP  - "), _s(F.lit(1990) + doc_id % 30), F.lit(" Mar 15")),
        F.concat(F.lit("AU  - Smith "), _s(doc_id % 5)),
        F.concat(F.lit("AU  - Doe "), _s(doc_id % 7)),
        F.concat(F.lit("TA  - J"), _s(doc_id % 7)),
        F.concat(
            F.lit("AID - 10."), _s(F.lit(1000) + doc_id % 50),
            F.lit("/x"), _s(doc_id % 50), F.lit(" [doi]"),
        ),
        F.concat(F.lit("CRDT- "), _s(F.lit(1990) + doc_id % 30), F.lit("/03/15 09:00")),
        F.concat(F.lit("SO  - J"), _s(doc_id % 7), F.lit(". "),
                 _s(F.lit(1990) + doc_id % 30), F.lit(";1:1")),
        F.concat(F.lit("PHST- "), _s(F.lit(1989) + doc_id % 30), F.lit("/01/02 [received]")),
        F.concat(F.lit("PHST- "), _s(F.lit(1990) + doc_id % 30), F.lit("/02/03 [accepted]")),
    )
    parsed = parse_records_df(d.select(rec_text.alias("record_text")), parse_pubmed_file)
    return parsed.select(
        F.col("pmid").cast("bigint").alias("pmid"),
        "title",
        "abstract",
        F.array_join("authors", ", ").alias("authors"),
        "journal",
        "doi",
        "publication_date",
        "creation_date",
        F.col("source").alias("so_source"),
        F.array_join("publication_history", " | ").alias("pub_history"),
    )


LIT_PARSE_PUBMED_SQL = """
SELECT doc_id AS pmid,
       'Title ' || doc_id::VARCHAR AS title,
       text || ' (cont)' AS abstract,
       'Smith ' || (doc_id % 5)::VARCHAR || ', Doe ' || (doc_id % 7)::VARCHAR AS authors,
       'J' || (doc_id % 7)::VARCHAR AS journal,
       '10.' || (1000 + doc_id % 50)::VARCHAR || '/x' || (doc_id % 50)::VARCHAR AS doi,
       (1990 + doc_id % 30)::VARCHAR || ' Mar 15' AS publication_date,
       (1990 + doc_id % 30)::VARCHAR || '/03/15 09:00' AS creation_date,
       'J' || (doc_id % 7)::VARCHAR || '. ' || (1990 + doc_id % 30)::VARCHAR || ';1:1' AS so_source,
       (1989 + doc_id % 30)::VARCHAR || '/01/02 [received] | '
         || (1990 + doc_id % 30)::VARCHAR || '/02/03 [accepted]' AS pub_history
FROM documents
"""
gate("lit_parse_pubmed", lit_parse_pubmed, LIT_PARSE_PUBMED_SQL)


def lit_parse_wos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 round-trip: PT record start, UT/TI(+3-space continuation)/AB/SO/
    DI/PY, AU multi-tag, DE '; '-split, ER record end."""
    from scholarmind_spark.sources.base import parse_records_df
    from scholarmind_spark.sources.wos import parse_wos_file

    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    rec_text = F.concat_ws(
        "\n",
        F.lit("PT J"),
        F.concat(F.lit("UT WOS:"), _s(doc_id)),
        F.concat(F.lit("TI Title "), _s(doc_id)),
        F.lit("   part two"),
        F.concat(F.lit("AB "), F.col("text")),
        F.concat(F.lit("SO JOURNAL "), _s(doc_id % 7)),
        F.concat(F.lit("DI 10."), _s(F.lit(1000) + doc_id % 50), F.lit("/x"), _s(doc_id % 50)),
        F.concat(F.lit("PY "), _s(F.lit(1990) + doc_id % 30)),
        F.concat(F.lit("AU Smith "), _s(doc_id % 5)),
        F.concat(F.lit("AU Doe "), _s(doc_id % 7)),
        F.concat(F.lit("DE kw"), _s(doc_id % 3), F.lit("; kw"), _s(doc_id % 5)),
        F.lit("ER"),
    )
    parsed = parse_records_df(d.select(rec_text.alias("record_text")), parse_wos_file)
    return parsed.select(
        F.regexp_replace("wos_id", "^WOS:", "").cast("bigint").alias("wid"),
        "title",
        "abstract",
        F.array_join("authors", ", ").alias("authors"),
        "journal",
        "doi",
        "publication_year",
        F.array_join("keywords", ", ").alias("keywords"),
    )


LIT_PARSE_WOS_SQL = """
SELECT doc_id AS wid,
       'Title ' || doc_id::VARCHAR || ' part two' AS title,
       text AS abstract,
       'Smith ' || (doc_id % 5)::VARCHAR || ', Doe ' || (doc_id % 7)::VARCHAR AS authors,
       'JOURNAL ' || (doc_id % 7)::VARCHAR AS journal,
       '10.' || (1000 + doc_id % 50)::VARCHAR || '/x' || (doc_id % 50)::VARCHAR AS doi,
       (1990 + doc_id % 30)::VARCHAR AS publication_year,
       'kw' || (doc_id % 3)::VARCHAR || ', kw' || (doc_id % 5)::VARCHAR AS keywords
FROM documents
"""
gate("lit_parse_wos", lit_parse_wos, LIT_PARSE_WOS_SQL)


def lit_parse_wos_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 round-trip: CSV_MAP rename (incl. the 'UT (Unique WOS ID)' and
    'Times Cited, All Databases' headers), ';'-split with trim and
    empty-element drop, P3 source tag — the semantic core of the CSV scan
    (dialect sniffing is pytest-covered; it's I/O, not semantics)."""
    from scholarmind_spark.sources.wos import normalize_wos_tabular

    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    raw = d.select(
        F.concat(F.lit("Title "), _s(doc_id)).alias("Article Title"),
        F.col("text").alias("Abstract"),
        # trailing '; ' exercises the empty-element filter, ' ; ' the trim
        F.concat(
            F.lit("Smith "), _s(doc_id % 5), F.lit(" ; Doe "), _s(doc_id % 7), F.lit("; ")
        ).alias("Authors"),
        F.concat(F.lit("kw"), _s(doc_id % 3), F.lit(" ;  kw"), _s(doc_id % 5)).alias(
            "Author Keywords"
        ),
        F.concat(F.lit("JOURNAL "), _s(doc_id % 7)).alias("Journal"),
        F.concat(
            F.lit("10."), _s(F.lit(1000) + doc_id % 50), F.lit("/x"), _s(doc_id % 50)
        ).alias("DOI"),
        _s(F.lit(1990) + doc_id % 30).alias("Publication Year"),
        F.concat(F.lit("WOS:"), _s(doc_id)).alias("UT (Unique WOS ID)"),
        _s(doc_id % 90).alias("Times Cited, All Databases"),
    )
    rec = normalize_wos_tabular(raw)
    return rec.select(
        F.regexp_replace("wos_id", "^WOS:", "").cast("bigint").alias("wid"),
        "title",
        "abstract",
        F.array_join("authors", ", ").alias("authors"),
        "journal",
        "doi",
        "publication_year",
        F.array_join("keywords", ", ").alias("keywords"),
        "times_cited",
        "source_type",
    )


LIT_PARSE_WOS_CSV_SQL = """
SELECT doc_id AS wid,
       'Title ' || doc_id::VARCHAR AS title,
       text AS abstract,
       'Smith ' || (doc_id % 5)::VARCHAR || ', Doe ' || (doc_id % 7)::VARCHAR AS authors,
       'JOURNAL ' || (doc_id % 7)::VARCHAR AS journal,
       '10.' || (1000 + doc_id % 50)::VARCHAR || '/x' || (doc_id % 50)::VARCHAR AS doi,
       (1990 + doc_id % 30)::VARCHAR AS publication_year,
       'kw' || (doc_id % 3)::VARCHAR || ', kw' || (doc_id % 5)::VARCHAR AS keywords,
       (doc_id % 90)::VARCHAR AS times_cited,
       'wos' AS source_type
FROM documents
"""
gate("lit_parse_wos_csv", lit_parse_wos_csv, LIT_PARSE_WOS_CSV_SQL)


def lit_parse_sciencedirect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 round-trip: positional authors/title/journal, Volume/Issue/year/
    Pages line, DOI+URL extraction, Abstract..Keywords window, ';' split."""
    from scholarmind_spark.sources.base import parse_records_df
    from scholarmind_spark.sources.sciencedirect import parse_sd_file

    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    rec_text = F.concat_ws(
        "\n",
        F.lit("Smith, A., Doe, B."),
        F.concat(F.lit("Study "), _s(doc_id % 7)),
        F.concat(F.lit("Journal "), _s(doc_id % 7)),
        F.concat(
            F.lit("Volume "), _s(doc_id % 9 + 1),
            F.lit(", Issue "), _s(doc_id % 4 + 1),
            F.lit(", "), _s(F.lit(1990) + doc_id % 30),
            F.lit(", Pages 10-20"),
        ),
        F.concat(F.lit("https://doi.org/10."), _s(F.lit(1000) + doc_id % 50), F.lit("/x"), _s(doc_id % 50)),
        F.concat(F.lit("https://www.sciencedirect.com/science/article/pii/S"), _s(doc_id)),
        F.lit("Abstract"),
        F.col("text"),
        F.lit("Keywords"),
        F.concat(F.lit("kw"), _s(doc_id % 3), F.lit("; kw"), _s(doc_id % 5)),
    )
    parsed = parse_records_df(d.select(rec_text.alias("record_text")), parse_sd_file)
    return parsed.select(
        F.regexp_extract("url", r"S(\d+)$", 1).cast("bigint").alias("sid"),
        "title",
        "abstract",
        F.array_join("authors", " | ").alias("authors"),
        "journal",
        "doi",
        "publication_year",
        "volume",
        "issue",
        "pages",
        F.array_join("keywords", ", ").alias("keywords"),
    )


LIT_PARSE_SD_SQL = """
SELECT doc_id AS sid,
       'Study ' || (doc_id % 7)::VARCHAR AS title,
       text AS abstract,
       'Smith, A. | Doe, B.' AS authors,
       'Journal ' || (doc_id % 7)::VARCHAR AS journal,
       '10.' || (1000 + doc_id % 50)::VARCHAR || '/x' || (doc_id % 50)::VARCHAR AS doi,
       (1990 + doc_id % 30)::VARCHAR AS publication_year,
       (doc_id % 9 + 1)::VARCHAR AS volume,
       (doc_id % 4 + 1)::VARCHAR AS issue,
       '10-20' AS pages,
       'kw' || (doc_id % 3)::VARCHAR || ', kw' || (doc_id % 5)::VARCHAR AS keywords
FROM documents
"""
gate("lit_parse_sciencedirect", lit_parse_sciencedirect, LIT_PARSE_SD_SQL)


# ----------------------------------------------- training-data pipeline ops

def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text (hash-groupBy, min-id survivor)."""
    d = _t(spark, sf_dir, "documents")
    return dedup_exact(d, "text", "doc_id").select("doc_id").orderBy("doc_id")


DEDUP_EXACT_SQL = """
SELECT doc_id FROM (
  SELECT doc_id,
         row_number() OVER (
           PARTITION BY md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))))
           ORDER BY doc_id ASC) AS rn
  FROM documents
) WHERE rn = 1
ORDER BY doc_id
"""
gate("dedup_exact", dedup_exact_docs, DEDUP_EXACT_SQL)


def dedup_ngram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.6)


gate("dedup_ngram_jaccard", dedup_ngram_docs, ngram_jaccard_pairs_sql("documents", threshold=0.6))


def dedup_minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.6)


gate("dedup_minhash_lsh", dedup_minhash_docs, minhash_lsh_pairs_sql("documents", threshold=0.6))


def dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(_t(spark, sf_dir, "documents"), max_distance=3)


gate("dedup_simhash", dedup_simhash_docs, simhash_pairs_sql("documents", max_distance=3))


def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        token_count(c).alias("n_tokens"),
        bpe_token_count(c).alias("n_bpe_tokens"),
        punct_ratio(c).alias("punct_ratio"),
        stopword_ratio(c).alias("stopword_ratio"),
        quality_score(c).alias("quality_score"),
    )


TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       {token_count_sql('text')}::INT AS n_tokens,
       {bpe_token_count_sql('text')}::INT AS n_bpe_tokens,
       {punct_ratio_sql('text')} AS punct_ratio,
       {stopword_ratio_sql('text')} AS stopword_ratio,
       {quality_score_sql('text')} AS quality_score
FROM documents
"""
gate("text_quality_stats", text_quality_stats, TEXT_QUALITY_SQL)


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_pred"))


LANG_ID_SQL = f"""
SELECT doc_id, lang, {lang_id_sql('text')} AS lang_pred FROM documents
"""
gate("text_lang_id", text_lang_id, LANG_ID_SQL)


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


FINGERPRINT_SQL = f"""
SELECT doc_id, {fingerprint_sql('text')} AS fingerprint FROM documents
"""
gate("doc_fingerprint", doc_fingerprints, FINGERPRINT_SQL)


def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining text scrub round-trip: URLs dropped, emails/long digit
    runs masked, whitespace collapsed.  The corpus text gets adversarial
    URL/email/phone suffixes appended INSIDE the query (the synthetic docs
    contain none) so every scrub rule fires on every row."""
    from scholarmind_spark.operators.textstats import clean_text

    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    dirty = F.concat(
        F.col("text"),
        F.lit("  see https://ex.org/p?q="), _s(doc_id),
        F.lit(" or http://t.co/"), _s(doc_id % 10),
        F.lit("\tmail bob.smith+"), _s(doc_id % 5), F.lit("@example.org"),
        F.lit("  call 123456789"), _s(doc_id % 10), F.lit(" now"),
    )
    return d.select("doc_id", clean_text(dirty).alias("clean"))


def _text_clean_sql() -> str:
    from scholarmind_spark.operators.textstats import clean_text_sql

    dirty = (
        "text || '  see https://ex.org/p?q=' || doc_id::VARCHAR"
        " || ' or http://t.co/' || (doc_id % 10)::VARCHAR"
        " || chr(9) || 'mail bob.smith+' || (doc_id % 5)::VARCHAR || '@example.org'"
        " || '  call 123456789' || (doc_id % 10)::VARCHAR || ' now'"
    )
    return f"SELECT doc_id, {clean_text_sql(f'({dirty})')} AS clean FROM documents"


gate("text_clean", text_clean, _text_clean_sql())


def token_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-20 tokens by frequency (deterministic ties)."""
    from scholarmind_spark.operators.textstats import token_topk

    return token_topk(_t(spark, sf_dir, "documents"), "text", k=20)


gate("token_topk", token_topk_docs, token_topk_sql("documents", "text", k=20))


def ann_cosine_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_topk(e, q, k=10)


ANN_SQL = cosine_topk_sql("embeddings", query_ids=ANN_QUERY_IDS, k=10)
gate("ann_cosine_topk", ann_cosine_docs, ANN_SQL)


def ann_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (the 100 TB ANN path)."""
    from scholarmind_spark.operators.similarity import ann_lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ann_lsh_topk(e, q, k=10)


gate("ann_lsh_topk", ann_lsh_docs, ann_lsh_topk_sql("embeddings", query_ids=ANN_QUERY_IDS, k=10))


def ann_ivf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantized ANN (the other 100 TB path besides LSH)."""
    from scholarmind_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(e, q, k=10)


gate("ann_ivf_topk", ann_ivf_docs, ivf_topk_sql("embeddings", query_ids=ANN_QUERY_IDS, k=10))


def ann_pq_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k (operators/pq, Jégou et al. 2011) — the
    memory-compression ANN path: m=8 subspace codebooks (deterministic
    corpus-subset codewords, the IVF gate device), plan-literal encoding,
    asymmetric-distance ranking.  Recall vs the exact scan is measured
    by tools/ann_recall.py pq."""
    from scholarmind_spark.operators.pq import pq_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return pq_topk(e, q, k=10).orderBy("query_id", "rank")


def ann_ivfadc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC composed index (operators/pq.ivfadc_topk): coarse
    quantizer routes to inverted lists (corpus-subset coarse codebook,
    ids 0-3), queries probe 2 cells, PQ/ADC ranks the residents —
    candidate volume Σ probed-cell sizes, residents m ints each."""
    from scholarmind_spark.operators.pq import ivfadc_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivfadc_topk(e, q, k=10, nprobe=2).orderBy("query_id", "rank")


def _ann_ivfadc_sql() -> str:
    from scholarmind_spark.operators.pq import ivfadc_topk_sql

    return (
        "SELECT * FROM "
        + ivfadc_topk_sql("embeddings", query_ids=ANN_QUERY_IDS, k=10, nprobe=2)
        + " ORDER BY query_id, rank"
    )


gate("ann_ivfadc_topk", ann_ivfadc_docs, _ann_ivfadc_sql())


def _ann_pq_sql() -> str:
    from scholarmind_spark.operators.pq import pq_topk_sql

    return (
        "SELECT * FROM "
        + pq_topk_sql("embeddings", query_ids=ANN_QUERY_IDS, k=10)
        + " ORDER BY query_id, rank"
    )


gate("ann_pq_topk", ann_pq_docs, _ann_pq_sql())


def ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC under a TRAINED-FORM codebook (operators/pq.pq_train_exact
    — codewords are corpus MEANS, not corpus rows): the production
    ``(sub, code, cw)`` codebook path through pq_topk, driver-gated.
    The trainer is one engine-exact Lloyd mean-update step (integer-
    micro means under ``vec_id % codes``) so the oracle DERIVES the
    same table; pq_train's float-avg means are partial-aggregation-
    order dependent (the kmeans_assign_cells determinism boundary) and
    are pinned by pytest instead."""
    from scholarmind_spark.operators.pq import pq_topk, pq_train_exact

    e = _t(spark, sf_dir, "embeddings")
    cb = pq_train_exact(e, m=8, dim=64, codes=8)
    q = e.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return pq_topk(
        e, q, k=10, m=8, dim=64, subspace_codebook_df=cb
    ).orderBy("query_id", "rank")


def _ann_pq_trained_sql() -> str:
    from scholarmind_spark.operators.pq import pq_topk_trained_sql

    return (
        "SELECT * FROM "
        + pq_topk_trained_sql(
            "embeddings", query_ids=ANN_QUERY_IDS, k=10, m=8, dim=64, codes=8
        )
        + " ORDER BY query_id, rank"
    )


gate("ann_pq_trained", ann_pq_trained, _ann_pq_trained_sql())


def _ann_index_state(spark: SparkSession, sf_dir: str) -> str:
    """Fold the embeddings corpus into the shared raw-mode index state
    (three microbatches: insert, insert, insert + idempotent re-ingest
    of ids < 8) and return its path.  The state dir is a per-process
    temp shared by ``ann_index_stream`` and ``ann_index_rerank`` — both
    gates cover the SAME standing corpus, and the manifest high-water
    mark makes every fold after the first process-wide call a no-op, so
    whichever gate the rotation runs first pays the build and bench
    reps time the query path against standing state (the production
    read shape)."""
    import hashlib

    from scholarmind_spark.streaming.pipeline import _vector_ingest_fn
    from scholarmind_spark.util import proc_tmp_dir

    e = _t(spark, sf_dir, "embeddings")
    state = proc_tmp_dir(
        "ann_idx_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    # compact_every=3: creation compacts (v-0 base), folds 1-2 stay
    # deltas — the query exercises pruned-base + delta-stack resolution
    fold = _vector_ingest_fn(state, "annidxgate", compact_every=3)
    vid = F.col("vec_id")
    b0 = e.filter((vid < 16) | (vid % 3 == 0))  # carries codebook ids 0-15
    b1 = e.filter((vid >= 16) & (vid % 3 == 1))
    b2 = e.filter((vid >= 16) & (vid % 3 == 2)).unionByName(
        e.filter(vid < 8)  # re-ingest: latest-wins upsert, same vectors
    )
    for i, b in enumerate((b0, b1, b2)):
        fold(b, i)
    return state


def ann_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming IVF-PQ vector index end-to-end (r13 verdict ask
    #1): the embeddings corpus folds in three microbatches (insert,
    insert, insert + idempotent re-ingest of ids < 8) through the
    merge-on-read index fold (streaming/pipeline.stream_vector_ingest —
    per-fold encode DELTAS, cell-partitioned base, manifest commit),
    and raw-mode ann_state_query over the PUBLISHED state must equal
    the batch ivfadc_topk DuckDB oracle over the same corpus and
    codebooks (cell-pruned reads provably change nothing)."""
    from scholarmind_spark.streaming.pipeline import ann_state_query

    e = _t(spark, sf_dir, "embeddings")
    state = _ann_index_state(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return ann_state_query(spark, state, q, k=10, nprobe=2).orderBy(
        "query_id", "rank"
    )


# the streamed index resolves to the SAME corpus + codebooks the
# batch ivfadc gate certifies — one oracle serves both
gate("ann_index_stream", ann_index_stream, _ann_ivfadc_sql())


def ann_index_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming index's PRODUCTION read recipe, driver-gated (r14
    verdict ask #1): ann_state_query_refined serves IVFADC+R from the
    published state — the state's ADC ranking surfaces top-50
    candidates per query, their raw vectors alone are fetched from the
    source corpus (the state stores m-int codes, by design) and
    re-ranked by exact squared-L2.  Must equal the batch
    ivfadc_refine_topk DuckDB oracle over the same standing corpus —
    SCALE.md's clustered table measures this stage at +0.375 absolute
    recall at the production residual/m16/c256 point."""
    from scholarmind_spark.streaming.pipeline import ann_state_query_refined

    e = _t(spark, sf_dir, "embeddings")
    state = _ann_index_state(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return ann_state_query_refined(
        spark, state, q, raw_df=e, k=10, rerank=50, nprobe=2
    ).orderBy("query_id", "rank")


def _ann_index_rerank_sql() -> str:
    from scholarmind_spark.operators.pq import ivfadc_refine_topk_sql

    return (
        "SELECT * FROM "
        + ivfadc_refine_topk_sql(
            "embeddings", query_ids=ANN_QUERY_IDS, k=10, rerank=50, nprobe=2
        )
        + " ORDER BY query_id, rank"
    )


gate("ann_index_rerank", ann_index_rerank, _ann_index_rerank_sql())


def ann_index_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming index in RESIDUAL mode, driver-gated (r14 verdict
    ask #6): the mode SCALE.md's clustered table measures as
    load-bearing (raw m8/c64 collapses to 0.075 recall at σ0.3;
    residual recovers it) was pytest-only at the state surface.  The
    corpus folds in three microbatches with by_residual=True frozen
    into the state (encmode sidecar — folds and queries read the mode
    back; a resumed stream cannot mix code spaces), and ann_state_query
    over the published state must equal the batch
    ivfadc_topk(by_residual=True) DuckDB oracle: encode (vector − its
    routed centroid), rank by the query's per-probe residual."""
    import hashlib

    from scholarmind_spark.streaming.pipeline import (
        _vector_ingest_fn,
        ann_state_query,
    )
    from scholarmind_spark.util import proc_tmp_dir

    e = _t(spark, sf_dir, "embeddings")
    state = proc_tmp_dir(
        "ann_res_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    fold = _vector_ingest_fn(
        state, "annresgate", compact_every=3, by_residual=True
    )
    vid = F.col("vec_id")
    b0 = e.filter((vid < 16) | (vid % 3 == 0))  # carries codebook ids 0-15
    b1 = e.filter((vid >= 16) & (vid % 3 == 1))
    b2 = e.filter((vid >= 16) & (vid % 3 == 2)).unionByName(
        e.filter(vid < 8)  # re-ingest: latest-wins upsert, same vectors
    )
    for i, b in enumerate((b0, b1, b2)):
        fold(b, i)
    q = e.filter(vid.isin(ANN_QUERY_IDS)).select(
        vid.alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ann_state_query(spark, state, q, k=10, nprobe=2).orderBy(
        "query_id", "rank"
    )


def _ann_index_residual_sql() -> str:
    from scholarmind_spark.operators.pq import ivfadc_topk_sql

    return (
        "SELECT * FROM "
        + ivfadc_topk_sql(
            "embeddings", query_ids=ANN_QUERY_IDS, k=10, nprobe=2,
            by_residual=True,
        )
        + " ORDER BY query_id, rank"
    )


gate("ann_index_residual", ann_index_residual, _ann_index_residual_sql())


def ann_index_retire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector index's RETIREMENT surface, driver-gated (r14): fold
    the embeddings corpus into its own index state (two batches), then
    vector_index_retire every (vec_id % 10 == 7, >= 16) row — a
    tombstone delta, O(|retired|) written, nothing read — and the state
    query must equal the batch ivfadc_topk DuckDB oracle over the
    SURVIVING corpus.  The retired set avoids the frozen coarse (0-3) /
    codebook (0-15) ids and the query ids, so the oracle's codebooks
    stay identical to the state's.  Separate per-process state from
    ann_index_stream's (that gate's oracle is the full corpus);
    repeated calls re-publish the same tombstones, which resolve
    identically (retire is semantically idempotent)."""
    import hashlib

    from scholarmind_spark.streaming.pipeline import (
        _vector_ingest_fn,
        ann_state_query,
        vector_index_retire,
    )
    from scholarmind_spark.util import proc_tmp_dir

    e = _t(spark, sf_dir, "embeddings")
    state = proc_tmp_dir(
        "ann_ret_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    fold = _vector_ingest_fn(state, "annretgate", compact_every=8)
    vid = F.col("vec_id")
    fold(e.filter((vid < 16) | (vid % 2 == 0)), 0)
    fold(e.filter((vid >= 16) & (vid % 2 == 1)), 1)
    retired = e.filter((vid % 10 == 7) & (vid >= 16)).select(
        vid.alias("id")
    )
    vector_index_retire(spark, state, retired)
    q = e.filter(vid.isin(ANN_QUERY_IDS)).select(
        vid.alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ann_state_query(spark, state, q, k=10, nprobe=2).orderBy(
        "query_id", "rank"
    )


def _ann_index_retire_sql() -> str:
    from scholarmind_spark.operators.pq import ivfadc_topk_sql

    survivors = (
        "(SELECT * FROM embeddings"
        " WHERE NOT (vec_id % 10 = 7 AND vec_id >= 16))"
    )
    return (
        "SELECT * FROM "
        + ivfadc_topk_sql(survivors, query_ids=ANN_QUERY_IDS, k=10, nprobe=2)
        + " ORDER BY query_id, rank"
    )


gate("ann_index_retire", ann_index_retire, _ann_index_retire_sql())


def ann_ivfadc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC + exact re-ranking (operators/pq.ivfadc_refine_topk —
    Jégou et al. §5.3 IVFADC+R / the Faiss refine recipe): ADC surfaces
    top-50 candidates per query, their raw vectors alone are fetched
    (rerank × |queries| rows, broadcast against one corpus scan) and
    re-ranked by EXACT squared-L2 — quantization error then bounds only
    candidate recall, never the final ordering of what was surfaced."""
    from scholarmind_spark.operators.pq import ivfadc_refine_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivfadc_refine_topk(e, q, k=10, rerank=50, nprobe=2).orderBy(
        "query_id", "rank"
    )


def _ann_ivfadc_rerank_sql() -> str:
    from scholarmind_spark.operators.pq import ivfadc_refine_topk_sql

    return (
        "SELECT * FROM "
        + ivfadc_refine_topk_sql(
            "embeddings", query_ids=ANN_QUERY_IDS, k=10, rerank=50, nprobe=2
        )
        + " ORDER BY query_id, rank"
    )


gate("ann_ivfadc_rerank", ann_ivfadc_rerank, _ann_ivfadc_rerank_sql())


def dedup_embedding_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH bucket join + exact verify."""
    from scholarmind_spark.operators.similarity import embedding_neardup_pairs

    # threshold 0.25: the synthetic embeddings are near-orthogonal (max
    # pairwise cosine ~0.49), so a production-style 0.9 returns nothing —
    # 0.25 exercises bucket-join + verify with a non-trivial result set.
    # planes pinned to the oracle's static value: the library default
    # self-scales from the corpus size (similarity.derive_planes), but the
    # DuckDB twin is a fixed string and must hash into the same buckets
    from scholarmind_spark.operators.similarity import LSH_PLANES

    return embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.25, planes=LSH_PLANES
    )


gate(
    "dedup_embedding_cosine",
    dedup_embedding_docs,
    embedding_neardup_pairs_sql("embeddings", threshold=0.25),
)


def lit_llm_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 LLM abstract-understanding map under the oracle: pass-through
    mapInArrow (one call per key) + D12 parse, with the deterministic mock
    client (reply = md5-derived JSON of the prompt) that DuckDB reproduces
    field-by-field."""
    from scholarmind_spark.llm.client import MockLLMClient
    from scholarmind_spark.llm.extract import llm_extract
    from scholarmind_spark.llm.templates import PromptTemplate
    from scholarmind_spark.util import carry_caches

    tpl = PromptTemplate(
        type="gate",
        name="gate",
        system="s",
        user_template="{abstract}",  # prompt == raw text → oracle can hash it
        fields=["summary", "method"],
        default_values={"summary": "-", "method": "-"},
    )
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("record_id"), F.col("text").alias("abstract")
    )
    out = llm_extract(d, tpl, MockLLMClient(fields=tuple(tpl.fields), mode="json"))
    return carry_caches(out, out.select("record_id", "summary", "method"))


LIT_LLM_SQL = """
SELECT doc_id AS record_id,
       'summary-' || substring(md5('summary' || text), 1, 8) AS summary,
       'method-'  || substring(md5('method'  || text), 1, 8) AS method
FROM documents
"""
gate("lit_llm_extract", lit_llm_extract, LIT_LLM_SQL)


def events_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Structured Streaming pipeline (readStream → watermark →
    tumbling window → availableNow drain), checked against the same SQL
    oracle as the batch events_tumbling — stream/batch parity in the gate."""
    from scholarmind_spark.streaming import read_events_stream, run_to_memory, tumbling_agg

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(tumbling_agg(stream), mode="complete")


# --------------------------------------------------------------- multimodal

def media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal byte-stats: binary payload + typed metadata, built-in
    expressions only (no Python touches the blob)."""
    from scholarmind_spark.multimodal import media_byte_stats, synth_media

    return media_byte_stats(synth_media(spark, sf_dir))


def media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-decode stage (mapInPandas; deterministic stub decoder in this
    container — see multimodal.media.decode_images)."""
    from scholarmind_spark.multimodal import decode_images, synth_media

    return decode_images(synth_media(spark, sf_dir))


def media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling (1→N mapInPandas): frame index, even-spaced
    timestamp, and sliced-payload size per frame."""
    from scholarmind_spark.multimodal import frame_sample, synth_media

    return frame_sample(synth_media(spark, sf_dir), n_frames=4).select(
        "media_id", "frame_no", "frame_ts_ms", F.length("frame").alias("n_frame_bytes")
    )


def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize stage (mapInPandas): aspect-preserving target dims with
    ``scale = min(1, 256/max(w,h))`` — the dim math is the real contract
    (payload re-encode is stubbed; PIL not in container) and DuckDB
    recomputes it exactly (trunc-toward-zero on positive values == floor)."""
    from scholarmind_spark.multimodal import resize_images, synth_media

    return resize_images(synth_media(spark, sf_dir), max_side=256).select(
        "media_id", "width", "height", F.length("content").alias("n_bytes")
    )


MEDIA_RESIZE_SQL = """
WITH img AS (
  SELECT doc_id, (doc_id % 16 + 1) * 64 AS w, (doc_id % 9 + 1) * 64 AS h, text
  FROM documents WHERE doc_id % 3 = 0
)
SELECT doc_id AS media_id,
       floor(w * least(1.0, 256.0 / greatest(w, h)))::INT AS width,
       floor(h * least(1.0, 256.0 / greatest(w, h)))::INT AS height,
       octet_length(encode(text)) AS n_bytes
FROM img
"""
gate("media_resize", media_resize, MEDIA_RESIZE_SQL)


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram feature extraction (Arrow-batched mapInPandas), checked
    EXACTLY against SQL: the integer bin counts are recovered from the
    L1-normalized float32 feature via ``round(f * n_bytes)`` (payloads are
    <2KB so the float32 quantization error is << 0.5), and DuckDB recomputes
    the same counts from the hex dump — odd-position hex chars ARE the high
    nibbles the histogram bins on."""
    from scholarmind_spark.multimodal import extract_features, synth_media

    m = synth_media(spark, sf_dir)
    feats = extract_features(m)
    n_bytes = m.select("media_id", F.length("content").alias("n_bytes"))
    return feats.join(F.broadcast(n_bytes), "media_id").select(
        "media_id",
        F.concat_ws(
            ",",
            F.transform(
                "feature",
                lambda v: F.round(v.cast("double") * F.col("n_bytes")).cast("int").cast("string"),
            ),
        ).alias("hist"),
        F.size("feature").alias("dim"),
    )


from scholarmind_spark.multimodal.media import MEDIA_BYTE_STATS_SQL  # noqa: E402
gate("media_byte_stats", media_stats, MEDIA_BYTE_STATS_SQL)

MEDIA_DECODE_SQL = """
SELECT doc_id AS media_id, 'image' AS media_type,
       ((doc_id % 16 + 1) * 64)::INT AS width,
       ((doc_id % 9 + 1) * 64)::INT AS height,
       3 AS n_channels, TRUE AS decode_ok, 'stub' AS decoder
FROM documents
WHERE doc_id % 3 = 0 AND octet_length(encode(text)) > 0
"""
gate("media_decode", media_decode, MEDIA_DECODE_SQL)

MEDIA_FRAMES_SQL = """
WITH vid AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS n_bytes,
         (doc_id % 100 + 1) * 1000 AS duration_ms
  FROM documents WHERE doc_id % 3 = 2
),
frames AS (
  SELECT media_id, unnest([0, 1, 2, 3]) AS frame_no, n_bytes, duration_ms
  FROM vid
)
SELECT media_id, frame_no::INT AS frame_no,
       (duration_ms * frame_no // 4)::BIGINT AS frame_ts_ms,
       greatest(0, least(greatest(1, n_bytes // 4),
                         n_bytes - frame_no * greatest(1, n_bytes // 4)))::INT AS n_frame_bytes
FROM frames
"""
gate("media_frame_sample", media_frames, MEDIA_FRAMES_SQL)

# hex() dumps the payload as 2 uppercase hex chars per byte; dropping the
# even-position chars leaves exactly the per-byte HIGH nibbles — the bin
# index (byte >> 4) the Spark-side histogram uses.
_NIB = "regexp_replace(hex(encode(text)), '(.).', '\\1', 'g')"
MEDIA_FEATURES_SQL = (
    "WITH b AS (SELECT doc_id AS media_id, " + _NIB + " AS nib FROM documents)\n"
    "SELECT media_id, concat_ws(','"
    + "".join(
        f", length(nib) - length(replace(nib, '{d}', ''))" for d in "0123456789ABCDEF"
    )
    + ") AS hist, 16 AS dim FROM b"
)
gate("media_features", media_features, MEDIA_FEATURES_SQL)


# ------------------------------------------------------------------- events

def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling-window aggregation (batch analogue of the
    Structured Streaming window pipeline in scholarmind_spark.streaming)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            F.unix_timestamp(F.window("ts", "5 minutes").start).alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(_dec(F.col("value"))).cast("double"), 2).alias("total_value"),
        )
    )


EVENTS_TUMBLING_SQL = """
SELECT epoch(time_bucket(INTERVAL '5 minutes', ts))::BIGINT AS bucket_start,
       event_type,
       count(*) AS n_events,
       round(sum(value::DECIMAL(18,2))::DOUBLE, 2) AS total_value
FROM events
GROUP BY bucket_start, event_type
"""
gate("events_tumbling", events_tumbling, EVENTS_TUMBLING_SQL)
gate("events_tumbling_stream", events_tumbling_stream, EVENTS_TUMBLING_SQL)


def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token chunking with overlap over the corpus (32-token windows
    every 24) — flat projection, no shuffle."""
    from scholarmind_spark.operators.chunking import chunk_documents

    # gate-boundary ordering (the operator no longer global-sorts)
    return chunk_documents(_t(spark, sf_dir, "documents")).orderBy(
        "id", "chunk_id"
    )


def _text_chunk_sql() -> str:
    from scholarmind_spark.operators.chunking import chunk_documents_sql

    return chunk_documents_sql("documents")


gate("text_chunk_documents", text_chunk_documents, _text_chunk_sql())


def kmeans_assign_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook assignment (operators/kmeans.kmeans_predict) under the
    FIXED deterministic centroid set (the IVF subset ids), so the oracle
    reproduces the cells: per vector, argmin squared-L2 centroid with
    (dist, cid) tie-break, distance rounded 6."""
    from scholarmind_spark.operators.kmeans import kmeans_predict
    from scholarmind_spark.operators.similarity import IVF_CENTROID_IDS

    e = _t(spark, sf_dir, "embeddings")
    cents = (
        e.filter(F.col("vec_id").isin(IVF_CENTROID_IDS))
        .select(F.col("vec_id").cast("long").alias("cid"), F.col("embedding").alias("cvec"))
    )
    return (
        kmeans_predict(e, cents)
        .select("vec_id", "cell", F.round("dist", 6).alias("dist"))
        .orderBy("vec_id")
    )


def _kmeans_assign_sql() -> str:
    from scholarmind_spark.operators.similarity import IVF_CENTROID_IDS

    ids = ", ".join(str(i) for i in IVF_CENTROID_IDS)
    sq = (
        "list_sum(list_transform(list_zip(e.embedding, c.embedding),"
        " p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)))"
    )
    return f"""
WITH c AS (
  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id IN ({ids})
),
scored AS (
  SELECT e.vec_id, c.cid, {sq} AS d FROM embeddings e CROSS JOIN c
),
ranked AS (
  SELECT vec_id, cid, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
  FROM scored
)
SELECT vec_id, cid AS cell, round(d, 6) AS dist
FROM ranked WHERE rn = 1 ORDER BY vec_id
"""


gate("kmeans_assign_cells", kmeans_assign_cells, _kmeans_assign_sql())


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the raw double ``value`` column — the
    binning (``floor(value / width)``) is a single IEEE divide+floor, so
    bins are engine-exact even though value sums would not be."""
    e = _events(spark, sf_dir)
    return (
        e.select(F.floor(F.col("value") / F.lit(10.0)).cast("bigint").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .orderBy("bin")
    )


EVENTS_HISTOGRAM_SQL = """
SELECT floor(value / 10.0)::BIGINT AS bin, count(*) AS n
FROM events GROUP BY bin ORDER BY bin
"""
gate("events_value_histogram", events_value_histogram, EVENTS_HISTOGRAM_SQL)


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: users counted at their FURTHEST ordered stage
    (view → click → purchase, each stage's first occurrence strictly after
    the previous stage's).  One groupBy(user) with conditional min
    timestamps — no self-joins, one shuffle; the stage comparison is pure
    column logic."""
    e = _events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    stage = (
        F.when(F.col("t_view").isNull(), 0)
        .when(F.col("t_click").isNull() | (F.col("t_click") <= F.col("t_view")), 1)
        .when(F.col("t_buy").isNull() | (F.col("t_buy") <= F.col("t_click")), 2)
        .otherwise(3)
    )
    return (
        per_user.select(stage.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count("*").alias("n_users"))
        .orderBy("funnel_stage")
    )


EVENTS_FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
  FROM events GROUP BY user_id
),
staged AS (
  SELECT CASE
           WHEN t_view IS NULL THEN 0
           WHEN t_click IS NULL OR t_click <= t_view THEN 1
           WHEN t_buy IS NULL OR t_buy <= t_click THEN 2
           ELSE 3
         END AS funnel_stage
  FROM per_user
)
SELECT funnel_stage, count(*) AS n_users
FROM staged GROUP BY funnel_stage ORDER BY funnel_stage
"""
gate("events_funnel", events_funnel, EVENTS_FUNNEL_SQL)


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted per
    active day offset — two cascaded aggregations with a broadcast of the
    (tiny) per-user first-seen table back onto the fact."""
    e = _events(spark, sf_dir)
    first_seen = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    active = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        active.join(first_seen, "user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


EVENTS_COHORT_SQL = """
WITH first_seen AS (
  SELECT user_id, min(ts::DATE) AS cohort_day FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, ts::DATE AS day FROM events
)
SELECT cohort_day, (day - cohort_day) AS day_offset, count(*) AS n_users
FROM active JOIN first_seen USING (user_id)
GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset
"""
gate("events_cohort_retention", events_cohort_retention, EVENTS_COHORT_SQL)


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding by 5 (each event lands in exactly
    width/slide = 2 windows) — the batch twin of ``streaming.sliding_agg``;
    the oracle materializes the same two window starts per event with an
    unnest."""
    from scholarmind_spark.streaming.pipeline import sliding_agg

    e = _events(spark, sf_dir)
    return sliding_agg(e, "10 minutes", "5 minutes").orderBy(
        "bucket_start", "event_type"
    )


EVENTS_SLIDING_SQL = """
SELECT bucket_start, event_type, count(*) AS n_events
FROM (
  SELECT unnest([ (floor(epoch(ts) / 300) * 300 - 300)::BIGINT,
                  (floor(epoch(ts) / 300) * 300)::BIGINT ]) AS bucket_start,
         event_type
  FROM events
)
GROUP BY bucket_start, event_type
ORDER BY bucket_start, event_type
"""
gate("events_sliding", events_sliding, EVENTS_SLIDING_SQL)


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gets the latest prior purchase per user
    (operators/asof.py — single-shuffle sort-merge shape; oracle uses
    DuckDB's native ASOF JOIN)."""
    from scholarmind_spark.operators.asof import asof_join

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")  # unique per (key, ts) for determinism
        # max over DECIMAL then one cast: engine round() algorithms differ
        # on raw doubles (Spark shortest-repr HALF_UP vs DuckDB FP
        # multiply); the decimal path is bit-exact on both
        .agg(F.max(_dec(F.col("value"))).cast("double").alias("purchase_value"))
    )
    out = asof_join(clicks, purchases, key="user_id", ts="ts")
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("click_ts"),
        F.unix_timestamp("asof_ts").alias("purchase_ts"),
        "purchase_value",
    )


EVENTS_ASOF_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, ts, max(value::DECIMAL(18,2))::DOUBLE AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       floor(epoch(c.ts))::BIGINT AS click_ts,
       floor(epoch(p.ts))::BIGINT AS purchase_ts,
       p.purchase_value
FROM clicks c
ASOF LEFT JOIN purchases p ON c.user_id = p.user_id AND c.ts >= p.ts
"""
gate("events_asof_join", events_asof_join, EVENTS_ASOF_SQL)


def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join: per click, count same-user purchases within
    ±300 s.  The plan is a pure equi-join on (user, time-bin) with 3×
    replication of the purchase side — the oracle runs the plain
    inequality join, proving result parity."""
    from scholarmind_spark.operators.rangejoin import range_join_count

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    out = range_join_count(
        clicks, purchases, key="user_id", ts_left="ts", ts_right="pts",
        tolerance_s=300, count_col="n_nearby_purchases",
    )
    return out.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").alias("click_ts"),
        "n_nearby_purchases",
    )


EVENTS_RANGE_JOIN_SQL = """
SELECT c.event_id, c.user_id,
       floor(epoch(c.ts))::BIGINT AS click_ts,
       (SELECT count(*) FROM events p
        WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
          AND abs(floor(epoch(c.ts)) - floor(epoch(p.ts))) <= 300) AS n_nearby_purchases
FROM events c WHERE c.event_type = 'click'
"""
gate("events_range_join", events_range_join, EVENTS_RANGE_JOIN_SQL)


def q_order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``; the 100 TB variant swaps in
    ``approx_percentile`` with the same plan shape)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderstatus")
    )


Q_QUANTILES_SQL = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
       count(*) AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
gate("order_price_quantiles", q_order_price_quantiles, Q_QUANTILES_SQL)


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + running sum of gap breaks (30 min gap)."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = e.withColumn("session_id", F.sum(is_new).over(w))
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


EVENTS_SESSION_SQL = """
WITH marked AS (
  -- floor(epoch()) matches Spark's unix_timestamp (whole seconds); the
  -- raw epoch() is a fractional DOUBLE here (ts carries micros), and a
  -- gap within 1s of the 1800 threshold would split sessions differently
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, max(session_id)::BIGINT AS n_sessions, count(*) AS n_events
FROM sess GROUP BY user_id
"""
gate("events_sessionize", events_sessionize, EVENTS_SESSION_SQL)


def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining (operators/packing.py): documents
    concatenated into 512-token sequences within 8 deterministic shards —
    per-doc pack coordinates, integer-exact on both engines."""
    from scholarmind_spark.operators.packing import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), context_tokens=512, shards=8
    ).orderBy("doc_id")


def text_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard packing utilization (docs, tokens, sequences, padding
    fraction of the tail sequence)."""
    from scholarmind_spark.operators.packing import pack_sequences, pack_stats

    return pack_stats(
        pack_sequences(_t(spark, sf_dir, "documents"), context_tokens=512, shards=8),
        context_tokens=512,
    )


def _pack_sql() -> str:
    from scholarmind_spark.operators.packing import pack_sequences_sql

    return pack_sequences_sql("documents", context_tokens=512, shards=8)


gate("text_pack_sequences", text_pack_sequences, _pack_sql())


def _pack_stats_sql() -> str:
    return f"""
WITH packed AS ({_pack_sql()})
SELECT shard, count(*) AS n_docs, sum(n_tok)::BIGINT AS total_tokens,
       ceil(sum(n_tok) / 512.0)::BIGINT AS n_sequences,
       round((ceil(sum(n_tok) / 512.0)::BIGINT * 512 - sum(n_tok))
             / (ceil(sum(n_tok) / 512.0)::BIGINT * 512.0), 6) AS pad_fraction
FROM packed GROUP BY shard ORDER BY shard
"""


gate("text_pack_stats", text_pack_stats, _pack_stats_sql())


def text_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-domain inventory (operators/textstats.url_domain_stats): the
    corpus text carries no URLs, so the gate prepends one deterministic
    URL per doc (domain derived from lang, path from doc_id, plus a
    www./case variant every third doc) — the extract → normalize →
    aggregate mechanics are exercised for real and the oracle rebuilds
    the same text."""
    from scholarmind_spark.operators.textstats import url_domain_stats

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("see "),
            F.when(F.col("doc_id") % 3 == 0, F.lit("https://WWW.")).otherwise(
                F.lit("https://")
            ),
            F.col("lang"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            F.col("text"),
        ).alias("text"),
    )
    return url_domain_stats(d).orderBy(F.desc("n_docs"), "domain")


def _text_url_domains_sql() -> str:
    from scholarmind_spark.operators.textstats import url_domain_stats_sql

    synth = (
        "(SELECT doc_id, "
        "'see ' || (CASE WHEN doc_id % 3 = 0 THEN 'https://WWW.' ELSE 'https://' END)"
        " || lang || '.example.org/p/' || doc_id::VARCHAR || ' ' || text AS text"
        " FROM documents)"
    )
    return url_domain_stats_sql(synth)


gate("text_url_domains", text_url_domains, _text_url_domains_sql())


def text_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + revisit grouping (operators/urls): six
    deterministic spellings of each page URL (host case, www, default
    port, fragment, tracking params, param order) collapse to one
    canonical key; output is the per-key revisit inventory that URL-level
    crawl dedup keys on."""
    from scholarmind_spark.operators.urls import canonical_url

    d = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 6
    g = (F.col("doc_id") % 25).cast("string")
    url = (
        F.when(m == 0, F.concat(F.lit("https://Example.org/p"), g, F.lit("/")))
        .when(m == 1, F.concat(F.lit("https://www.example.org/p"), g))
        .when(
            m == 2,
            F.concat(F.lit("https://example.org:443/p"), g, F.lit("?utm_source=x")),
        )
        .when(m == 3, F.concat(F.lit("https://example.org/p"), g, F.lit("#frag")))
        .when(m == 4, F.concat(F.lit("https://example.org/p"), g, F.lit("?b=2&a=1")))
        .otherwise(
            F.concat(F.lit("https://example.org/p"), g, F.lit("?a=1&b=2&utm_campaign=z"))
        )
    )
    return (
        d.select("doc_id", canonical_url(url).alias("canonical"))
        .groupBy("canonical")
        .agg(F.count("*").alias("n_urls"), F.min("doc_id").alias("first_id"))
        .orderBy("canonical")
    )


def _text_url_canonical_sql() -> str:
    from scholarmind_spark.operators.urls import canonical_url_sql

    g = "(doc_id % 25)::VARCHAR"
    url = f"""CASE doc_id % 6
      WHEN 0 THEN 'https://Example.org/p' || {g} || '/'
      WHEN 1 THEN 'https://www.example.org/p' || {g}
      WHEN 2 THEN 'https://example.org:443/p' || {g} || '?utm_source=x'
      WHEN 3 THEN 'https://example.org/p' || {g} || '#frag'
      WHEN 4 THEN 'https://example.org/p' || {g} || '?b=2&a=1'
      ELSE 'https://example.org/p' || {g} || '?a=1&b=2&utm_campaign=z' END"""
    return f"""
WITH u AS (
  SELECT doc_id, {canonical_url_sql(url)} AS canonical FROM documents
)
SELECT canonical, count(*) AS n_urls, min(doc_id) AS first_id
FROM u GROUP BY canonical ORDER BY canonical
"""


gate("text_url_canonical", text_url_canonical, _text_url_canonical_sql())


def _boilerplate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus has no natural cross-document boilerplate, so
    the span-scrub gates prepend a deterministic 5-word banner to every
    document (plus a second banner to every 4th) — both exactly one
    span wide, so the hot-list → anti-join → reassemble mechanics run on
    a real multi-span hot list and the oracle rebuilds the same text."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit("all rights reserved contact us "),
            ).otherwise(F.lit("")),
            F.lit("subscribe to our newsletter today "),
            F.col("text"),
        ).alias("text"),
    )


_BOILERPLATE_SYNTH_SQL = (
    "(SELECT doc_id, "
    "(CASE WHEN doc_id % 4 = 0 THEN 'all rights reserved contact us ' ELSE '' END)"
    " || 'subscribe to our newsletter today ' || text AS text FROM documents)"
)


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup (operators/neardup.ngram_jaccard_against):
    odd-doc_id documents play the incoming batch, even the standing
    corpus — each new doc is matched against the corpus only, the
    per-batch shape of a production ingest (corpus-internal pairs are
    deliberately NOT re-listed)."""
    from scholarmind_spark.operators.neardup import ngram_jaccard_against

    from scholarmind_spark.util import attach_caches

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_against(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
        threshold=0.5,
    )
    # re-attach past the .orderBy (new DataFrame drops the cache tag)
    return attach_caches(
        pairs.orderBy("new_id", "corpus_id"),
        list(getattr(pairs, "_sm_caches", ())),
    )


def _dedup_incremental_sql() -> str:
    from scholarmind_spark.operators.neardup import ngram_jaccard_against_sql

    return (
        "SELECT * FROM ("
        + ngram_jaccard_against_sql(
            "(SELECT * FROM documents WHERE doc_id % 2 = 1)",
            "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
            threshold=0.5,
        )
        + ") ORDER BY new_id, corpus_id"
    )


gate("dedup_incremental", dedup_incremental, _dedup_incremental_sql())


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-PII counts + redaction (operators/pii): the documents
    corpus carries no digits, so the gate APPENDS deterministic doc_id-
    keyed PII strings (email / phone / IP / card / SSN on different
    modular classes) — both engines synthesize the identical input, then
    the operator under test detects and redacts it.  Output: per-doc
    category counts and the before/after lengths for every affected doc."""
    from scholarmind_spark.operators.pii import redact_pii, with_pii_counts

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 3 == 0,
                   F.concat(F.lit(" contact user"), did.cast("string"),
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.lit(" call 555-867-5309")).otherwise(F.lit("")),
            F.when(did % 7 == 0,
                   F.concat(F.lit(" server 10.0."), (did % 256).cast("string"),
                            F.lit(".17"))).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.lit(" card 4111-1111-1111-1111")).otherwise(F.lit("")),
            F.when(did % 13 == 0, F.lit(" ssn 078-05-1120")).otherwise(F.lit("")),
        ).alias("text"),
    )
    counted = with_pii_counts(seeded, "text").withColumn(
        "len_raw", F.length("text")
    )
    redacted = redact_pii(counted, "text").withColumn(
        "len_redacted", F.length("text")
    )
    return (
        redacted.filter(F.col("n_pii") > 0)
        .select("doc_id", "n_email", "n_ipv4", "n_card", "n_ssn", "n_phone",
                "n_pii", "len_raw", "len_redacted")
        .orderBy("doc_id")
    )


def _text_pii_redact_sql() -> str:
    from scholarmind_spark.operators.pii import (
        redact_pii_sql_expr,
        with_pii_counts_sql,
    )

    seeded = """(
SELECT doc_id,
       text
       || CASE WHEN doc_id % 3 = 0
               THEN ' contact user' || doc_id::VARCHAR || '@example.com'
               ELSE '' END
       || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END
       || CASE WHEN doc_id % 7 = 0
               THEN ' server 10.0.' || (doc_id % 256)::VARCHAR || '.17'
               ELSE '' END
       || CASE WHEN doc_id % 11 = 0 THEN ' card 4111-1111-1111-1111' ELSE '' END
       || CASE WHEN doc_id % 13 = 0 THEN ' ssn 078-05-1120' ELSE '' END
       AS text
FROM documents
)"""
    counted = f"({with_pii_counts_sql(seeded)})"
    return f"""
SELECT doc_id,
       n_email::INT AS n_email, n_ipv4::INT AS n_ipv4, n_card::INT AS n_card,
       n_ssn::INT AS n_ssn, n_phone::INT AS n_phone, n_pii::INT AS n_pii,
       length(text)::INT AS len_raw,
       length({redact_pii_sql_expr("text")})::INT AS len_redacted
FROM {counted}
WHERE n_pii > 0
ORDER BY doc_id
"""


gate("text_pii_redact", text_pii_redact, _text_pii_redact_sql())


def text_scrub_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style repeated-span removal (operators/boilerplate): spans seen
    in ≥50 distinct docs are boilerplate; every occurrence is scrubbed,
    span order preserved, no rows dropped."""
    from scholarmind_spark.operators.boilerplate import scrub_repeated_spans

    return scrub_repeated_spans(
        _boilerplate_docs(spark, sf_dir), span_words=5, min_docs=50
    ).orderBy("doc_id")


def _text_scrub_spans_sql() -> str:
    from scholarmind_spark.operators.boilerplate import scrub_repeated_spans_sql

    return (
        "SELECT * FROM ("
        + scrub_repeated_spans_sql(_BOILERPLATE_SYNTH_SQL, span_words=5, min_docs=50)
        + ") ORDER BY doc_id"
    )


gate("text_scrub_spans", text_scrub_spans, _text_scrub_spans_sql())


def text_span_hotlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate inventory behind text_scrub_spans: hot spans with
    document reach and occurrence counts."""
    from scholarmind_spark.operators.boilerplate import repeated_span_stats

    return repeated_span_stats(
        _boilerplate_docs(spark, sf_dir), span_words=5, min_docs=50
    ).orderBy(F.desc("n_docs"), "span")


def _text_span_hotlist_sql() -> str:
    from scholarmind_spark.operators.boilerplate import repeated_span_stats_sql

    return repeated_span_stats_sql(_BOILERPLATE_SYNTH_SQL, span_words=5, min_docs=50)


gate("text_span_hotlist", text_span_hotlist, _text_span_hotlist_sql())


def orders_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history (operators/merge.scd2_history): per-customer
    order-status change history from the orders feed — consecutive
    same-status orders suppressed, validity intervals closed by the next
    change, open version flagged current.  Timestamps exported as epoch
    micros with NTZ wall-clock arithmetic (timezone-free)."""
    from scholarmind_spark.operators.merge import scd2_history

    h = scd2_history(
        _t(spark, sf_dir, "orders"),
        key="o_custkey",
        ts_col="o_orderdate",
        attr_cols=["o_orderstatus"],
        tiebreak="o_orderkey",
    )
    ntz_us = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
    )
    return h.select(
        "o_custkey",
        "o_orderstatus",
        F.expr(ntz_us.format("valid_from")).alias("from_us"),
        F.expr(ntz_us.format("valid_to")).alias("to_us"),
        "is_current",
    )


def _orders_scd2_history_sql() -> str:
    from scholarmind_spark.operators.merge import scd2_history_sql

    inner = scd2_history_sql(
        "SELECT * FROM orders",
        key="o_custkey",
        ts_col="o_orderdate",
        attr_cols=["o_orderstatus"],
        tiebreak="o_orderkey",
    )
    return f"""
SELECT o_custkey, o_orderstatus,
       epoch_us(valid_from) AS from_us,
       epoch_us(valid_to) AS to_us,
       is_current
FROM ({inner})
"""


gate("orders_scd2_history", orders_scd2_history, _orders_scd2_history_sql())


def dataset_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-ES weighted sampling without replacement
    (operators/sampling.weighted_sample): 50 documents drawn with
    probability proportional to length, deterministically (hash-uniforms,
    no RNG) — the length-weighted subsampling step of corpus curation."""
    from scholarmind_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(d, key="doc_id", weight_col="n_chars", n=50).orderBy(
        "doc_id"
    )


def _dataset_weighted_sample_sql() -> str:
    from scholarmind_spark.operators.sampling import weighted_sample_sql

    return (
        "SELECT * FROM ("
        + weighted_sample_sql(
            "(SELECT doc_id, lang, n_chars FROM documents)",
            key_expr="doc_id",
            weight_expr="n_chars",
            n=50,
        )
        + ") ORDER BY doc_id"
    )


gate("dataset_weighted_sample", dataset_weighted_sample, _dataset_weighted_sample_sql())


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (operators/textstats.char_entropy):
    per-doc Shannon entropy in integer micro-nats — the gibberish band
    check of corpus curation."""
    from scholarmind_spark.operators.textstats import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _text_char_entropy_sql() -> str:
    from scholarmind_spark.operators.textstats import char_entropy_sql

    return (
        "SELECT * FROM ("
        + char_entropy_sql("documents")
        + ") ORDER BY doc_id"
    )


gate("text_char_entropy", text_char_entropy, _text_char_entropy_sql())


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the word co-occurrence graph (operators/graph):
    TextRank keyword authority in integer micro fixed point — the
    iterative-graph shape (domain-authority scoring at crawl scale)
    with periodic (every-2-round) lineage truncation."""
    from scholarmind_spark.operators.graph import cooccurrence_edges, pagerank

    edges = cooccurrence_edges(_t(spark, sf_dir, "documents"))
    return pagerank(edges, iterations=6).orderBy("node")


def _graph_pagerank_sql() -> str:
    from scholarmind_spark.operators.graph import (
        cooccurrence_edges_sql,
        pagerank_sql,
    )

    return (
        pagerank_sql(cooccurrence_edges_sql("documents"), iterations=6)
        + " ORDER BY node"
    )


gate("graph_pagerank", graph_pagerank, _graph_pagerank_sql())


def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (operators/lm.bigram_lm_score): CCNet-style
    average negative log-likelihood per document in integer micro-nats,
    add-one smoothing, model self-trained on the corpus in one pass."""
    from scholarmind_spark.operators.lm import bigram_lm_score

    from scholarmind_spark.util import attach_caches

    out = bigram_lm_score(_t(spark, sf_dir, "documents"))
    # re-attach past the .orderBy (a new DataFrame drops the cache tag)
    return attach_caches(
        out.orderBy("doc_id"), list(getattr(out, "_sm_caches", ()))
    )


def _text_lm_score_sql() -> str:
    from scholarmind_spark.operators.lm import bigram_lm_score_sql

    return (
        "SELECT * FROM ("
        + bigram_lm_score_sql("documents")
        + ") ORDER BY doc_id"
    )


gate("text_lm_score", text_lm_score, _text_lm_score_sql())


def link_fuzzy_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-blocked fuzzy record linkage (operators/linkage.fuzzy_link):
    ALL edit-distance-≤2 pairs among the corpus vocabulary (lossless
    PassJoin segment blocking) — typo/variant detection with no all-pairs
    comparison and no anchor-blocking recall loss."""
    from scholarmind_spark.operators.linkage import fuzzy_link
    from scholarmind_spark.operators.textstats import tokens

    vocab = _t(spark, sf_dir, "documents").select(
        F.explode(F.transform(tokens(F.col("text")), F.lower)).alias("word")
    # the GATE pins its input to ASCII keys on both engines: DuckDB's
    # levenshtein counts BYTES while Spark counts code points, so only
    # the ASCII subset is oracle-comparable (the operator itself is
    # Unicode-correct — see fuzzy_link_sql's dialect note + pytest)
    ).filter(F.col("word").rlike(r"^[\x00-\x7F]*$"))
    from scholarmind_spark.util import attach_caches

    linked = fuzzy_link(vocab, "word", max_dist=2)
    # re-attach past the .orderBy (new DataFrame drops the cache tag)
    return attach_caches(
        linked.orderBy("a", "b"), list(getattr(linked, "_sm_caches", ()))
    )


def _link_fuzzy_vocab_sql() -> str:
    from scholarmind_spark.operators.linkage import fuzzy_link_sql
    from scholarmind_spark.operators.textstats import tokens_sql

    vocab = (
        "(SELECT word FROM (SELECT unnest(list_transform("
        + tokens_sql("text")
        + ", w -> lower(w))) AS word FROM documents)"
        + " WHERE regexp_matches(word, '^[\\x00-\\x7f]*$'))"
    )
    return (
        "SELECT * FROM ("
        + fuzzy_link_sql(vocab, "word", max_dist=2)
        + ") ORDER BY a, b"
    )


gate("link_fuzzy_vocab", link_fuzzy_vocab, _link_fuzzy_vocab_sql())


def events_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly flags (operators/anomaly): per-user
    10-event trailing window, milli-quantized all-integer z-test (no
    float crosses an engine), spike excluded from its own baseline."""
    from scholarmind_spark.operators.anomaly import rolling_anomalies

    return rolling_anomalies(_events(spark, sf_dir)).orderBy("event_id")


def _events_rolling_anomaly_sql() -> str:
    from scholarmind_spark.operators.anomaly import rolling_anomalies_sql

    return (
        "SELECT * FROM ("
        + rolling_anomalies_sql("events")
        + ") ORDER BY event_id"
    )


gate("events_rolling_anomaly", events_rolling_anomaly, _events_rolling_anomaly_sql())


def embed_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification (operators/centroid): assign every
    embedding to its nearest per-label integer-micro centroid via the
    squared-distance expansion — label-noise / separability audit."""
    from scholarmind_spark.operators.centroid import centroid_classify

    return centroid_classify(_t(spark, sf_dir, "embeddings")).orderBy("vec_id")


def _embed_centroid_classify_sql() -> str:
    from scholarmind_spark.operators.centroid import centroid_classify_sql

    return (
        "SELECT * FROM ("
        + centroid_classify_sql("embeddings")
        + ") ORDER BY vec_id"
    )


gate("embed_centroid_classify", embed_centroid_classify, _embed_centroid_classify_sql())


def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/diff.snapshot_diff): added/removed/changed
    keys between two simulated snapshots of orders (every 5th key absent
    from old, every 7th from new, every 3rd's status mutated)."""
    from scholarmind_spark.operators.diff import snapshot_diff

    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.concat(F.col("o_orderstatus"), F.lit("!")),
        )
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    return snapshot_diff(old, new, ["o_orderkey"]).orderBy("o_orderkey")


def _orders_snapshot_diff_sql() -> str:
    from scholarmind_spark.operators.diff import snapshot_diff_sql

    old = ("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
           "WHERE o_orderkey % 5 <> 0")
    new = ("SELECT o_orderkey, "
           "CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus || '!' "
           "ELSE o_orderstatus END AS o_orderstatus, o_totalprice "
           "FROM orders WHERE o_orderkey % 7 <> 0")
    return (
        "SELECT * FROM ("
        + snapshot_diff_sql(
            old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
        )
        + ") ORDER BY o_orderkey"
    )


gate("orders_snapshot_diff", orders_snapshot_diff, _orders_snapshot_diff_sql())


FK_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (operators/audit): orphan / null-FK
    counts for every declared TPC-H relationship — the post-load data
    quality gate."""
    from scholarmind_spark.operators.audit import fk_integrity_audit

    edges = [
        (name, _t(spark, sf_dir, child), fk, _t(spark, sf_dir, parent), pk)
        for name, child, fk, parent, pk in FK_EDGES
    ]
    return fk_integrity_audit(edges).orderBy("relationship")


def _fk_audit_sql() -> str:
    from scholarmind_spark.operators.audit import fk_integrity_audit_sql

    return (
        "SELECT * FROM ("
        + fk_integrity_audit_sql(FK_EDGES)
        + ") ORDER BY relationship"
    )


gate("fk_audit", fk_audit, _fk_audit_sql())


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap (operators/overlap.vocab_overlap):
    exact per-pair Jaccard counts over the documents sources — the
    mixture-design / domain-shift signal."""
    from scholarmind_spark.operators.overlap import vocab_overlap

    return vocab_overlap(_t(spark, sf_dir, "documents")).orderBy("a", "b")


def _source_vocab_overlap_sql() -> str:
    from scholarmind_spark.operators.overlap import vocab_overlap_sql

    return (
        "SELECT * FROM ("
        + vocab_overlap_sql("documents")
        + ") ORDER BY a, b"
    )


gate("source_vocab_overlap", source_vocab_overlap, _source_vocab_overlap_sql())


def events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization (operators/robust.winsorize): clip event
    values to the [p01, p99] discrete order statistics of their own
    event_type — robust-stats cleaning with no synthesized floats."""
    from scholarmind_spark.operators.robust import winsorize

    return winsorize(
        _events(spark, sf_dir), "event_type", "value", ["event_id"]
    ).orderBy("event_id")


def _events_winsorize_sql() -> str:
    from scholarmind_spark.operators.robust import winsorize_sql

    return (
        "SELECT * FROM ("
        + winsorize_sql("events", "event_type", "value", ["event_id"])
        + ") ORDER BY event_id"
    )


gate("events_winsorize", events_winsorize, _events_winsorize_sql())


def events_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (operators/mi): I(event_type; value decile bin)
    in exact integer micro-nats — the label-leakage / feature-relevance
    probe over the events table."""
    from scholarmind_spark.operators.mi import mutual_information

    e = _events(spark, sf_dir)
    return mutual_information(
        e, F.col("event_type"), F.floor(F.col("value") / 10.0)
    )


def _events_mutual_information_sql() -> str:
    from scholarmind_spark.operators.mi import mutual_information_sql

    return mutual_information_sql(
        "events", "event_type", "floor(value / 10.0)::BIGINT"
    )


gate("events_mutual_information", events_mutual_information, _events_mutual_information_sql())


def source_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health dashboard as ONE lazy plan: docs, chars,
    exact-duplicate rate (per-mille, integer), mean quality (micro,
    integer mean of per-doc integer scores), and language diversity —
    the one-stop feed for mixture/curation decisions.  Composes the
    oracle-checked quality/dedup devices; one scan, two aggregates."""
    from scholarmind_spark.operators.textstats import quality_score

    d = _t(spark, sf_dir, "documents")
    q_int = F.round(quality_score(F.col("text")) * F.lit(1000000.0)).cast("bigint")
    per_doc = d.select(
        "source",
        "lang",
        F.length("text").alias("n_chars"),
        q_int.alias("q"),
        F.md5("text").alias("h"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("h").alias("__uniq"),
            F.expr("(sum(q) + count(*) div 2) div count(*)").alias(
                "mean_quality_micro"
            ),
            F.countDistinct("lang").alias("n_langs"),
        )
        .select(
            "source",
            "n_docs",
            "total_chars",
            F.expr(
                "((n_docs - __uniq) * 1000 + n_docs div 2) div n_docs"
            ).alias("dup_permille"),
            "mean_quality_micro",
            "n_langs",
        )
        .orderBy("source")
    )


def _source_health_report_sql() -> str:
    from scholarmind_spark.operators.textstats import quality_score_sql

    return f"""
WITH __d AS (
  SELECT source, lang, length(text)::BIGINT AS n_chars,
         round({quality_score_sql("text")} * 1000000.0)::BIGINT AS q,
         md5(text) AS h
  FROM documents
),
__agg AS (
  SELECT source,
         count(*)::BIGINT AS n_docs,
         sum(n_chars)::BIGINT AS total_chars,
         count(DISTINCT h)::BIGINT AS uniq,
         (sum(q)::BIGINT + count(*)::BIGINT // 2) // count(*)::BIGINT
           AS mean_quality_micro,
         count(DISTINCT lang)::BIGINT AS n_langs
  FROM __d GROUP BY source
)
SELECT source, n_docs, total_chars,
       ((n_docs - uniq) * 1000 + n_docs // 2) // n_docs AS dup_permille,
       mean_quality_micro, n_langs
FROM __agg ORDER BY source"""


gate("source_health_report", source_health_report, _source_health_report_sql())


def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (operators/robust.weighted_median): per
    return-flag median extended price weighted by quantity — all-integer
    threshold selection, returned value is an actual data value.
    (Weights are integral-valued doubles, so the long cast is exact on
    both engines despite their different double→int rounding rules.)"""
    from scholarmind_spark.operators.robust import weighted_median

    return weighted_median(
        _t(spark, sf_dir, "lineitem"),
        "l_returnflag", "l_extendedprice", "l_quantity",
    ).orderBy("l_returnflag")


def _lineitem_weighted_median_sql() -> str:
    from scholarmind_spark.operators.robust import weighted_median_sql

    return (
        "SELECT * FROM ("
        + weighted_median_sql(
            "lineitem", "l_returnflag", "l_extendedprice", "l_quantity"
        )
        + ") ORDER BY l_returnflag"
    )


gate("lineitem_weighted_median", lineitem_weighted_median, _lineitem_weighted_median_sql())


def dataset_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum shuffle (operators/ordering): band-major
    (length tier) / md5-hash-minor reproducible training order; the
    top-50 head pins the permutation (TakeOrderedAndProject — never a
    single-task global sort)."""
    from scholarmind_spark.operators.ordering import deterministic_shuffle

    d = _t(spark, sf_dir, "documents")
    out = deterministic_shuffle(
        d, ["doc_id"], seed=1, band=F.expr("n_chars div 1000")
    )
    return out.select("doc_id", "band", "shuffle_pos").limit(50)


def _dataset_shuffle_order_sql() -> str:
    from scholarmind_spark.operators.ordering import shuffle_pos_sql

    pos = shuffle_pos_sql(1, "doc_id")
    return f"""
SELECT doc_id, n_chars // 1000 AS band, {pos} AS shuffle_pos
FROM documents
ORDER BY band, shuffle_pos, doc_id
LIMIT 50"""


gate("dataset_shuffle_order", dataset_shuffle_order, _dataset_shuffle_order_sql())


def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining (operators/paths.session_paths): top-15 ordered
    event-type sequences per 30-min-gap session — funnel discovery /
    bot-pattern audit; per-session order pinned to (ts, event_id)."""
    from scholarmind_spark.operators.paths import session_paths

    return session_paths(_events(spark, sf_dir))


def _events_session_paths_sql() -> str:
    from scholarmind_spark.operators.paths import session_paths_sql

    return session_paths_sql("events")


gate("events_session_paths", events_session_paths, _events_session_paths_sql())


def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (operators/quantize): codes +
    per-vector micro scale in one codegen projection, zero shuffles —
    the ANN-index compression pass.

    Gate boundary serializes the code array to CSV: the driver's pandas
    canonicalizer cannot hash list cells (r6 driver-red).  Library
    callers use :func:`quantize_embeddings` directly and keep the
    array-valued API."""
    from scholarmind_spark.operators.quantize import quantize_embeddings

    return (
        quantize_embeddings(_t(spark, sf_dir, "embeddings"))
        .select(
            "vec_id",
            "scale_micro",
            F.array_join(F.col("q").cast("array<string>"), ",").alias(
                "q_csv"
            ),
        )
        .orderBy("vec_id")
    )


def _embed_quantize_int8_sql() -> str:
    from scholarmind_spark.operators.quantize import quantize_embeddings_sql

    return (
        "SELECT vec_id, scale_micro, array_to_string(q, ',') AS q_csv"
        " FROM ("
        + quantize_embeddings_sql("embeddings")
        + ") ORDER BY vec_id"
    )


gate("embed_quantize_int8", embed_quantize_int8, _embed_quantize_int8_sql())


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (operators/lm.collocations): top-20 bigram pairs
    by pointwise mutual information (min count 5) — phrase discovery /
    tokenizer merge candidates, micro-nat exact."""
    from scholarmind_spark.operators.lm import collocations

    return collocations(_t(spark, sf_dir, "documents"))


def _text_collocations_sql() -> str:
    from scholarmind_spark.operators.lm import collocations_sql

    return collocations_sql("documents")


gate("text_collocations", text_collocations, _text_collocations_sql())


def orders_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (operators/audit.fd_audit): does
    o_orderkey determine o_custkey (a key-quality check — it must) —
    one scalar row with violation counts and worst fan-out."""
    from scholarmind_spark.operators.audit import fd_audit

    return fd_audit(_t(spark, sf_dir, "orders"), "o_orderkey", "o_custkey")


def _orders_fd_audit_sql() -> str:
    from scholarmind_spark.operators.audit import fd_audit_sql

    return fd_audit_sql("orders", "o_orderkey", "o_custkey")


gate("orders_fd_audit", orders_fd_audit, _orders_fd_audit_sql())


def events_daily_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distribution drift (operators/mi.drift_kl): KL divergence
    of each day's event-type mix vs the overall mix, micro-nat exact;
    the day key is TZ-free integer epoch-day arithmetic."""
    from scholarmind_spark.operators.mi import drift_kl

    e = _events(spark, sf_dir)
    day = F.expr("unix_timestamp(ts) div 86400")
    return drift_kl(e, day, F.col("event_type")).orderBy("grp")


def _events_daily_drift_sql() -> str:
    from scholarmind_spark.operators.mi import drift_kl_sql

    return (
        "SELECT * FROM ("
        + drift_kl_sql(
            "events", "floor(epoch(ts))::BIGINT // 86400", "event_type"
        )
        + ") ORDER BY grp"
    )


gate("events_daily_drift", events_daily_drift, _events_daily_drift_sql())


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment near-dup (operators/neardup.containment_pairs):
    docs ≥80% shingle-contained in another — the quote-farm / embedded-
    chunk detector Jaccard misses; all-integer threshold."""
    from scholarmind_spark.operators.neardup import containment_pairs

    from scholarmind_spark.util import attach_caches

    pairs = containment_pairs(_t(spark, sf_dir, "documents"))
    return attach_caches(
        pairs.orderBy("inner_id", "outer_id"),
        list(getattr(pairs, "_sm_caches", ())),
    )


def _dedup_containment_sql() -> str:
    from scholarmind_spark.operators.neardup import containment_pairs_sql

    return (
        "SELECT * FROM ("
        + containment_pairs_sql("documents")
        + ") ORDER BY inner_id, outer_id"
    )


gate("dedup_containment", dedup_containment, _dedup_containment_sql())


def events_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (operators/audit.benford_audit): per-type
    chi-square distance of the value column's leading-digit distribution
    from Benford's law — the fabricated-numbers screen (the synthetic
    uniform generator scores far from Benford, as it should)."""
    from scholarmind_spark.operators.audit import benford_audit

    return benford_audit(
        _events(spark, sf_dir), "event_type", "value"
    ).orderBy("event_type")


def _events_benford_audit_sql() -> str:
    from scholarmind_spark.operators.audit import benford_audit_sql

    return (
        "SELECT * FROM ("
        + benford_audit_sql("events", "event_type", "value")
        + ") ORDER BY event_type"
    )


gate("events_benford_audit", events_benford_audit, _events_benford_audit_sql())


def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival cadence (operators/robust.interarrival_
    quantiles): discrete p50/p90 of event gaps in exact integer micros —
    engagement/bot-cadence features via the tie-safe rank device."""
    from scholarmind_spark.operators.robust import interarrival_quantiles

    return interarrival_quantiles(_events(spark, sf_dir)).orderBy("user_id")


def _events_interarrival_sql() -> str:
    from scholarmind_spark.operators.robust import interarrival_quantiles_sql

    return (
        "SELECT * FROM ("
        + interarrival_quantiles_sql("events")
        + ") ORDER BY user_id"
    )


gate("events_interarrival", events_interarrival, _events_interarrival_sql())


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier flags (operators/robust.mad_outliers):
    |v − median| > 3·MAD per event_type — the 50%-breakdown companion
    to the mean/σ trailing-window test; medians are tie-safe lower
    order statistics, the fence compare is one IEEE op per side."""
    from scholarmind_spark.operators.robust import mad_outliers

    return mad_outliers(
        _events(spark, sf_dir), "event_type", "value", ["event_id"]
    ).orderBy("event_id")


def _events_mad_outliers_sql() -> str:
    from scholarmind_spark.operators.robust import mad_outliers_sql

    return (
        "SELECT * FROM ("
        + mad_outliers_sql("events", "event_type", "value", ["event_id"])
        + ") ORDER BY event_id"
    )


gate("events_mad_outliers", events_mad_outliers, _events_mad_outliers_sql())


def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis (operators/skew.skew_report): distinct/total
    counts, hot-key list, and the integer per-mille max/mean ratio for
    the events user_id key — the decision input for salting vs AQE."""
    from scholarmind_spark.operators.skew import skew_report

    # gate boundary: hot_keys/hot_freqs are arrays the driver canonicalizer
    # cannot hash (r6 driver-red) — serialize; library callers keep arrays
    return skew_report(_events(spark, sf_dir), "user_id").select(
        "n_keys",
        "n_rows",
        "max_freq",
        "skew_permille",
        F.array_join(F.col("hot_keys"), "|").alias("hot_keys_csv"),
        F.array_join(F.col("hot_freqs").cast("array<string>"), ",").alias(
            "hot_freqs_csv"
        ),
    )


def _skew_key_report_sql() -> str:
    from scholarmind_spark.operators.skew import skew_report_sql

    return (
        "SELECT n_keys, n_rows, max_freq, skew_permille,"
        " array_to_string(hot_keys, '|') AS hot_keys_csv,"
        " array_to_string(hot_freqs, ',') AS hot_freqs_csv"
        " FROM (" + skew_report_sql("events", "user_id") + ")"
    )


gate("skew_key_report", skew_key_report, _skew_key_report_sql())


def text_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing featurizer (operators/features.hash_features):
    sparse signed-TF vectors in 64 hash buckets, L2-normalized — the
    model-free bridge from text to the vector operators."""
    from scholarmind_spark.operators.features import hash_features

    return hash_features(_t(spark, sf_dir, "documents"), dim=64).orderBy(
        "doc_id", "bucket"
    )


def _text_hash_features_sql() -> str:
    from scholarmind_spark.operators.features import hash_features_sql

    return (
        "SELECT * FROM ("
        + hash_features_sql("documents", dim=64)
        + ") ORDER BY doc_id, bucket"
    )


gate("text_hash_features", text_hash_features, _text_hash_features_sql())


BM25_TERMS = ["spark", "join", "window", "stream"]


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (operators/bm25): top-15 documents for a
     4-term query over the corpus, scores in deterministic integer
    micros (the q_micro device — float sums never cross an engine
    boundary)."""
    from scholarmind_spark.operators.bm25 import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), BM25_TERMS, k=15)


def _text_bm25_topk_sql() -> str:
    from scholarmind_spark.operators.bm25 import bm25_topk_sql

    return bm25_topk_sql("documents", BM25_TERMS, k=15)


gate("text_bm25_topk", text_bm25_topk, _text_bm25_topk_sql())


MIXTURE_WEIGHTS = {"en": 0.6, "de": 0.25, "fr": 0.15}


def dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing (operators/sampling.mixture_sample): down-sample the
    corpus to a 60/25/15 en/de/fr mixture — deterministic hash-bucket
    keeps, per-class rates derived in-plan from the binding class, other
    languages dropped.  Output is the kept doc ids with their class."""
    from scholarmind_spark.operators.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return mixture_sample(d, key="doc_id", class_col="lang",
                          target_weights=MIXTURE_WEIGHTS).orderBy("doc_id")


def dataset_token_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget dataset mixing (operators/sampling.
    mixture_sample_tokens): down-sample to a 60/25/15 en/de/fr TOKEN
    mixture — the realistic recipe knob (training mixes are token
    shares); per-class rates derive from exact integer token totals,
    keep decision is the deterministic hash bucket.  Output: kept doc
    ids with class and token count."""
    from scholarmind_spark.operators.sampling import mixture_sample_tokens
    from scholarmind_spark.operators.textstats import token_count

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    kept = mixture_sample_tokens(
        d, key="doc_id", class_col="lang", text_col="text",
        target_weights=MIXTURE_WEIGHTS,
    )
    return kept.select(
        "doc_id", "lang", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    ).orderBy("doc_id")


def _dataset_token_mixture_sql() -> str:
    from scholarmind_spark.operators.sampling import mixture_sample_tokens_sql
    from scholarmind_spark.operators.textstats import tokens_sql

    inner = mixture_sample_tokens_sql(
        "(SELECT doc_id, lang, text FROM documents)",
        key_expr="doc_id",
        class_expr="lang",
        text_expr="text",
        target_weights=MIXTURE_WEIGHTS,
    )
    return (
        f"SELECT doc_id, lang, len({tokens_sql('text')})::BIGINT AS n_tokens"
        f" FROM ({inner}) ORDER BY doc_id"
    )


gate("dataset_token_mixture", dataset_token_mixture, _dataset_token_mixture_sql())


# weights under which 'en' (the dominant source in the synthetic corpus)
# is targeted BELOW its natural share and 'de'/'fr' above — a mix a
# down-sample-only pass cannot reach (it would have to discard most of
# the corpus); the binding scarce class is repeated up to 3 epochs
UPSAMPLE_WEIGHTS = {"en": 0.2, "de": 0.45, "fr": 0.35}


def dataset_token_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixing WITH up-sampling under a repetition cap
    (operators/sampling.mixture_sample_tokens_upsample): the full
    pretraining recipe — scarce high-quality classes are repeated
    (epoch-tagged deterministic copies, ≤ max_epochs) instead of the
    realized mix silently missing its target the way the down-sample-only
    twin must.  Output: kept (doc_id, epoch) pairs with class and token
    count."""
    from scholarmind_spark.operators.sampling import mixture_sample_tokens_upsample
    from scholarmind_spark.operators.textstats import token_count

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    kept = mixture_sample_tokens_upsample(
        d, key="doc_id", class_col="lang", text_col="text",
        target_weights=UPSAMPLE_WEIGHTS, max_epochs=3,
    )
    return kept.select(
        "doc_id", "lang", "epoch",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    ).orderBy("doc_id", "epoch")


def text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate-span detection (operators/dupspans,
    Lee et al. 2021): maximal token spans covered by 5-gram shingles
    occurring ≥2 times corpus-wide — substring-level dedup, firing on
    the SECOND occurrence anywhere (vs the ≥50-doc boilerplate
    hotlist).  Runs on the seeded banner corpus so cross-doc spans and
    the adjacent-banner interval merge are both exercised."""
    from scholarmind_spark.operators.dupspans import duplicate_spans
    from scholarmind_spark.util import attach_caches

    out = duplicate_spans(_boilerplate_docs(spark, sf_dir), k=5, min_count=2)
    return attach_caches(
        out.orderBy("doc_id", "span_start"),
        list(getattr(out, "_sm_caches", ())),
    )


def _text_duplicate_spans_sql() -> str:
    from scholarmind_spark.operators.dupspans import duplicate_spans_sql

    return (
        "SELECT * FROM "
        + duplicate_spans_sql(_BOILERPLATE_SYNTH_SQL, k=5, min_count=2)
        + " ORDER BY doc_id, span_start"
    )


gate("text_duplicate_spans", text_duplicate_spans, _text_duplicate_spans_sql())


def text_scrub_dupspans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span REMOVAL (operators/dupspans.scrub_duplicate_spans):
    every maximal duplicated span is cut and the survivors rejoin —
    Lee et al.'s scrub pass, row count preserved (fully-duplicated docs
    keep an empty text rather than vanish)."""
    from scholarmind_spark.operators.dupspans import scrub_duplicate_spans
    from scholarmind_spark.util import attach_caches

    out = scrub_duplicate_spans(_boilerplate_docs(spark, sf_dir), k=5, min_count=2)
    return attach_caches(
        out.orderBy("doc_id"), list(getattr(out, "_sm_caches", ()))
    )


def _text_scrub_dupspans_sql() -> str:
    from scholarmind_spark.operators.dupspans import scrub_duplicate_spans_sql

    return (
        "SELECT * FROM "
        + scrub_duplicate_spans_sql(_BOILERPLATE_SYNTH_SQL, k=5, min_count=2)
        + " ORDER BY doc_id"
    )


gate("text_scrub_dupspans", text_scrub_dupspans, _text_scrub_dupspans_sql())


def decontam_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level eval-set decontamination (operators/dupspans.
    contamination_spans): corpus spans covered by 5-gram collisions with
    a benchmark table are reported for cutting — the GPT-3/PaLM appendix
    recipe, vs the doc-level decontam_overlap flags.  Benchmark = three
    raw documents (their seeded corpus twins collide in full) plus the
    banner itself (every corpus doc collides at its prefix)."""
    from scholarmind_spark.operators.dupspans import contamination_spans
    from scholarmind_spark.util import attach_caches

    corpus = _boilerplate_docs(spark, sf_dir)
    bench = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 3).select(
        "doc_id", "text"
    ).unionByName(
        spark.createDataFrame(
            [(-1, "subscribe to our newsletter today")],
            "doc_id long, text string",
        )
    )
    out = contamination_spans(corpus, bench, k=5)
    return attach_caches(
        out.orderBy("doc_id", "span_start"),
        list(getattr(out, "_sm_caches", ())),
    )


def _decontam_spans_sql() -> str:
    from scholarmind_spark.operators.dupspans import contamination_spans_sql

    bench = (
        "(SELECT doc_id, text FROM documents WHERE doc_id < 3"
        " UNION ALL SELECT -1, 'subscribe to our newsletter today')"
    )
    return (
        "SELECT * FROM "
        + contamination_spans_sql(_BOILERPLATE_SYNTH_SQL, bench, k=5)
        + " ORDER BY doc_id, span_start"
    )


gate("decontam_spans", decontam_spans, _decontam_spans_sql())


def dataset_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir, Xie et al. 2023):
    fit hashed unigram+bigram bag distributions on a TARGET corpus (the
    English documents as the in-repo proxy for the paper's
    Wikipedia+books) and the RAW corpus, score every raw document with
    its summed micro-nat log importance ratio, and Gumbel-top-k
    resample 100 docs ∝ importance weight — deterministically, via
    hash-derived Gumbel noise.  Two m-bounded histograms, one broadcast
    ratio join, one TakeOrderedAndProject."""
    from scholarmind_spark.operators.dsir import (
        dsir_bucket_logratio,
        dsir_features,
        dsir_score,
        dsir_select,
    )
    from scholarmind_spark.util import attach_caches

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    target = d.filter(F.col("lang") == "en")
    # persist(): the raw-corpus feature pass feeds BOTH the raw histogram
    # and the scoring join — one tokenize+hash pass instead of two (the
    # relation is (id, bucket) pairs, far smaller than the text)
    feats = dsir_features(d).persist()
    ratios = dsir_bucket_logratio(d, target, raw_feats=feats)
    out = dsir_select(dsir_score(d, ratios, feats=feats), 100).orderBy(
        F.desc("gkey"), "doc_id"
    )
    return attach_caches(out, [feats])


def _dataset_dsir_select_sql() -> str:
    from scholarmind_spark.operators.dsir import (
        dsir_logratio_sql,
        dsir_score_sql,
        dsir_select_sql,
    )

    raw = "(SELECT doc_id, text FROM documents)"
    target = "(SELECT doc_id, text FROM documents WHERE lang = 'en')"
    scores = dsir_score_sql(raw, dsir_logratio_sql(raw, target))
    return (
        f"SELECT * FROM {dsir_select_sql(scores, 100)}"
        f" ORDER BY gkey DESC, doc_id"
    )


gate("dataset_dsir_select", dataset_dsir_select, _dataset_dsir_select_sql())


def _dataset_token_mixture_upsample_sql() -> str:
    from scholarmind_spark.operators.sampling import (
        mixture_sample_tokens_upsample_sql,
    )
    from scholarmind_spark.operators.textstats import tokens_sql

    inner = mixture_sample_tokens_upsample_sql(
        "(SELECT doc_id, lang, text FROM documents)",
        key_expr="doc_id",
        class_expr="lang",
        text_expr="text",
        target_weights=UPSAMPLE_WEIGHTS,
        max_epochs=3,
    )
    return (
        f"SELECT doc_id, lang, epoch, len({tokens_sql('text')})::BIGINT"
        f" AS n_tokens FROM ({inner}) ORDER BY doc_id, epoch"
    )


gate(
    "dataset_token_mixture_upsample",
    dataset_token_mixture_upsample,
    _dataset_token_mixture_upsample_sql(),
)


def _dataset_mixture_sql() -> str:
    from scholarmind_spark.operators.sampling import mixture_sample_sql

    return (
        "SELECT doc_id, lang FROM ("
        + mixture_sample_sql(
            "(SELECT doc_id, lang FROM documents)",
            key_expr="doc_id",
            class_expr="lang",
            target_weights=MIXTURE_WEIGHTS,
        )
        + ") ORDER BY doc_id"
    )


gate("dataset_mixture", dataset_mixture, _dataset_mixture_sql())


def events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming sliding windows (readStream → watermark →
    10-min windows every 5 min → availableNow drain) against the same
    unnest oracle as the batch events_sliding — completes the stream-gate
    coverage of every windowed operator (tumbling/sliding/session)."""
    from scholarmind_spark.streaming import read_events_stream, run_to_memory, sliding_agg

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(sliding_agg(stream), mode="complete")


gate("events_sliding_stream", events_sliding_stream, EVENTS_SLIDING_SQL)


def events_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization: ``session_window`` with a 30-min gap +
    watermark (state evicts after gap+watermark), drained with availableNow.
    The oracle recomputes Spark's session-window semantics in SQL: sessions
    merge while the inter-event gap is < 30 min (strict), window end =
    last event + gap."""
    from scholarmind_spark.streaming import read_events_stream, run_to_memory, session_agg

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(session_agg(stream), mode="complete")


# Spark's session_window compares FULL-precision event times (micros after
# the ns→us truncation), merging while gap < 30 min strictly; window end is
# last event time + gap; unix_timestamp() floors to whole seconds on output.
EVENTS_SESSION_STREAM_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
),
marked AS (
  SELECT user_id, event_id, us,
         CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sess AS (
  -- event_id tiebreak must match marked's window: without it, two
  -- same-user events in the same microsecond could running-sum in the
  -- other order and split a session Spark merges
  SELECT user_id, us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       (min(us) // 1000000)::BIGINT AS session_start,
       (max(us) // 1000000)::BIGINT + 1800 AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, sid
"""
gate("events_session_stream", events_session_stream, EVENTS_SESSION_STREAM_SQL)


def events_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (streaming/pipeline.stream_interval_join):
    view→click attribution within 4 hours per user, drained with
    availableNow — the single-file source arrives as one microbatch, so
    the append-mode inner join emits exactly the batch join the oracle
    computes.  Lags are exact integer micros (instant arithmetic)."""
    from scholarmind_spark.streaming import read_events_stream, run_to_memory, stream_interval_join

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(stream_interval_join(stream), mode="append")


EVENTS_STREAM_INTERVAL_JOIN_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
)
SELECT l.user_id, l.event_id AS left_id, r.event_id AS right_id,
       (r.us - l.us)::BIGINT AS lag_us
FROM e l JOIN e r ON l.user_id = r.user_id
WHERE l.event_type = 'view' AND r.event_type = 'click'
  AND r.us >= l.us AND r.us <= l.us + 14400000000
"""
gate("events_stream_interval_join", events_stream_interval_join, EVENTS_STREAM_INTERVAL_JOIN_SQL)


def events_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrich (streaming/pipeline.stream_static_
    enrich): the event stream left-joined to a batch user-tier dimension
    — stateless, append mode, dimension refreshable between triggers."""
    from scholarmind_spark.streaming import read_events_stream, run_to_memory, stream_static_enrich

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    dim = (
        _events(spark, sf_dir)
        .select("user_id")
        .distinct()
        .select("user_id", (F.col("user_id") % 5).alias("tier"))
    )
    enriched = stream_static_enrich(stream, dim).select(
        "event_id", "user_id", "tier"
    )
    return run_to_memory(enriched, mode="append")


EVENTS_STREAM_ENRICH_SQL = """
SELECT e.event_id, e.user_id, d.tier
FROM events e
LEFT JOIN (SELECT DISTINCT user_id, user_id % 5 AS tier FROM events) d
  ON e.user_id = d.user_id
"""
gate("events_stream_enrich", events_stream_enrich, EVENTS_STREAM_ENRICH_SQL)


def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen-wins dedup (``dropDuplicatesWithinWatermark``).
    WHICH physical row survives per key is arrival-order dependent, so the
    query projects the key columns only — the surviving KEY SET is
    deterministic and equals the distinct keys in the stream."""
    from scholarmind_spark.streaming import read_events_stream, run_to_memory, stream_dedup

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    deduped = stream_dedup(stream, keys=["user_id", "event_type"])
    return run_to_memory(deduped.select("user_id", "event_type"), mode="append")


EVENTS_STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""
gate("events_stream_dedup", events_stream_dedup, EVENTS_STREAM_DEDUP_SQL)


def events_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_rolling_anomaly (streaming/stateful.
    stateful_anomaly): the trailing-window z-score flag as a custom
    stateful operator — O(window) int64 state per user, same cleared-form
    integer predicate, drained with availableNow.  The oracle is the
    SAME batch SQL as the batch gate: stream == batch, verified."""
    from scholarmind_spark.streaming import read_events_stream, run_to_memory
    from scholarmind_spark.streaming.stateful import stateful_anomaly
    from scholarmind_spark.util import carry_caches

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    drained = run_to_memory(stateful_anomaly(stream), mode="update")
    # carry the drain's checkpoint-block tag past the orderBy wrapper so
    # release_caches on the returned frame frees it (the r15 leak class)
    return carry_caches(drained, drained.orderBy("event_id"))


def _events_stream_anomaly_sql() -> str:
    from scholarmind_spark.operators.anomaly import rolling_anomalies_sql

    return (
        "SELECT * FROM ("
        + rolling_anomalies_sql("events")
        + ") ORDER BY event_id"
    )


gate("events_stream_anomaly", events_stream_anomaly, _events_stream_anomaly_sql())


def events_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-user running totals, drained with availableNow.  The single-file
    source arrives as one microbatch, so update mode emits exactly one
    (final) row per user — the batch aggregate the oracle computes."""
    from scholarmind_spark.streaming import read_events_stream, run_to_memory
    from scholarmind_spark.streaming.stateful import stateful_user_stats

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(stateful_user_stats(stream), mode="update")


EVENTS_STATEFUL_SQL = """
SELECT user_id,
       count(*) AS n_events,
       -- per-row micro quantization + int sum + one division: the exact
       -- mirror of the state function's integer accumulation (a raw
       -- double sum would be accumulation-order dependent vs pandas)
       (sum(floor(value * 1000000 + 0.5))::BIGINT / 1000000.0) AS total_value,
       max(epoch_us(ts)) AS last_seen_us
FROM events
GROUP BY user_id
"""
gate("events_stateful_user_stats", events_stateful_user_stats, EVENTS_STATEFUL_SQL)


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline as ONE lazy plan: scrub text → compute
    quality stats → keep docs above a quality floor with enough tokens →
    exact-dedup on the cleaned text (min doc_id survives) → per-language
    corpus stats.  Every stage is an already-oracle-checked operator; this
    query proves they COMPOSE (the realistic usage) and that Catalyst
    collapses the whole chain into scan → project → two aggregates."""
    from scholarmind_spark.operators.textstats import clean_text, quality_score, token_count

    d = _t(spark, sf_dir, "documents")
    cleaned = d.select(
        "doc_id", "lang", clean_text(F.col("text")).alias("clean")
    )
    # The quality floor compares INTEGER micro-units, not doubles: round the
    # 6-dp score into a bigint on both engines so a last-ulp difference in
    # the unrounded double can never flip a >= 0.5 boundary on one engine
    # only (driver-env hash red in r2/r3).
    q_int = F.round(quality_score(F.col("clean")) * F.lit(1000000.0)).cast("bigint")
    kept = cleaned.filter(
        (q_int >= F.lit(500000)) & (token_count(F.col("clean")) >= 10)
    )
    survivors = (
        kept.groupBy(F.md5("clean").alias("h"))
        # min, not first: duplicate texts may carry different langs, and
        # first() is arrival-order dependent
        .agg(F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang"),
             F.min(F.length("clean")).alias("n_chars"))
    )
    return (
        survivors.groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


def _corpus_curation_sql() -> str:
    from scholarmind_spark.operators.textstats import (
        clean_text_sql, quality_score_sql, token_count_sql,
    )

    clean = clean_text_sql("text")
    return f"""
WITH cleaned AS (
  SELECT doc_id, lang, {clean} AS clean FROM documents
),
kept AS (
  SELECT * FROM cleaned
  WHERE round({quality_score_sql("clean")} * 1000000.0)::BIGINT >= 500000
    AND {token_count_sql("clean")} >= 10
),
survivors AS (
  SELECT min(doc_id) AS doc_id, min(lang) AS lang, min(length(clean)) AS n_chars
  FROM kept GROUP BY md5(clean)
)
SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM survivors GROUP BY lang ORDER BY lang
"""


gate("corpus_curation", corpus_curation, _corpus_curation_sql())


def diag_curation_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage diagnostic for corpus_curation: per-lang sums of the
    cleaned length, the integer quality score, the token count, and the
    count of distinct cleaned-text md5 groups, over ALL documents (no
    filtering).  Each output column isolates one stage of the curation
    pipeline, so a hash failure in an environment we cannot reproduce
    names the diverging stage in that environment's own report."""
    from scholarmind_spark.operators.textstats import clean_text, quality_score, token_count

    d = _t(spark, sf_dir, "documents")
    c = d.select("lang", clean_text(F.col("text")).alias("clean"))
    return (
        c.groupBy("lang")
        .agg(
            F.sum(F.length("clean")).alias("clean_chars"),
            F.sum(F.round(quality_score(F.col("clean")) * F.lit(1000000.0)).cast("bigint")).alias(
                "q_micro_sum"
            ),
            F.sum(token_count(F.col("clean"))).alias("tok_sum"),
            F.countDistinct(F.md5("clean")).alias("n_distinct_clean"),
        )
        .orderBy("lang")
    )


def _diag_curation_stages_sql() -> str:
    from scholarmind_spark.operators.textstats import (
        clean_text_sql, quality_score_sql, token_count_sql,
    )

    clean = clean_text_sql("text")
    return f"""
WITH cleaned AS (
  SELECT lang, {clean} AS clean FROM documents
)
SELECT lang,
       sum(length(clean))::BIGINT AS clean_chars,
       sum(round({quality_score_sql("clean")} * 1000000.0)::BIGINT)::BIGINT AS q_micro_sum,
       sum({token_count_sql("clean")})::BIGINT AS tok_sum,
       count(DISTINCT md5(clean)) AS n_distinct_clean
FROM cleaned GROUP BY lang ORDER BY lang
"""


gate("diag_curation_stages", diag_curation_stages, _diag_curation_stages_sql())


def _md5_mod(col) -> "F.Column":
    """Content checksum as a small BIGINT: big-endian u64 of the last 16
    md5 hex digits, mod 1e9+7.  Integer-valued end to end — no string
    collation, float formatting, or charset canonicalization can perturb
    it, unlike the ``max(md5(text))`` it replaced (driver-env hash red).
    DuckDB twin: ``('0x' || substring(md5(x),17,16))::UBIGINT % 1000000007``.
    """
    u64 = F.conv(F.substring(F.md5(col), 17, 16), 16, 10).cast("decimal(20,0)")
    return u64 % F.lit(1000000007)


def _jsonl_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → JSONL sink → JSONL source, shared by the roundtrip gate
    query and its per-column diagnostic twins."""
    from pyspark.sql import types as T

    from scholarmind_spark.sources.jsonl import read_jsonl, write_jsonl

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # FIXED name under the per-process 0700 mkdtemp base, overwritten each
    # call: a fresh mkdtemp per battery/bench rep accumulated corpus-sized
    # copies in /tmp forever, and a bare /tmp/sm_jsonl_<pid> was
    # pre-creatable by another local user
    from scholarmind_spark.util import proc_tmp_dir

    out = proc_tmp_dir("sm_jsonl")
    write_jsonl(d, out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return read_jsonl(spark, out, schema, keep_corrupt=False)


def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink→source round-trip: write documents as JSONL, read back
    with an explicit schema, and aggregate — the oracle aggregates the
    original parquet directly, so any value lost or mangled by the JSON
    codec breaks the hash.  All aggregates are integers (counts, sums,
    md5-mod checksums); nothing in the output depends on string ordering
    or float formatting."""
    return _docs_lang_agg(_jsonl_back(spark, sf_dir))


def _docs_lang_agg(back: DataFrame) -> DataFrame:
    """Shared per-lang roundtrip aggregate (n, id_sum, text_chars,
    text_h) — jsonl_roundtrip and wet_roundtrip both compare against the
    single oracle JSONL_ROUNDTRIP_SQL, so they must aggregate through
    ONE code path or an edit to either silently decouples the other."""
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("doc_id").alias("id_sum"),
            F.sum(F.length("text")).alias("text_chars"),
            F.sum(_md5_mod(F.col("text"))).cast("bigint").alias("text_h"),
        )
        .orderBy("lang")
    )


JSONL_ROUNDTRIP_SQL = """
SELECT lang, count(*) AS n, sum(doc_id)::BIGINT AS id_sum,
       sum(length(text))::BIGINT AS text_chars,
       sum(('0x' || substring(md5(text), 17, 16))::UBIGINT % 1000000007)::BIGINT AS text_h
FROM documents GROUP BY lang ORDER BY lang
"""
gate("jsonl_roundtrip", jsonl_roundtrip, JSONL_ROUNDTRIP_SQL)


def diag_jsonl_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic twin of jsonl_roundtrip carrying ONLY the length/count
    aggregates — if the full roundtrip hash fails in an environment we
    cannot reproduce, the per-column twins name the offending column in
    that environment's own CORRECTNESS report."""
    back = _jsonl_back(spark, sf_dir)
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("doc_id").alias("id_sum"),
            F.sum(F.length("text")).alias("text_chars"),
        )
        .orderBy("lang")
    )


DIAG_JSONL_LEN_SQL = """
SELECT lang, count(*) AS n, sum(doc_id)::BIGINT AS id_sum,
       sum(length(text))::BIGINT AS text_chars
FROM documents GROUP BY lang ORDER BY lang
"""
gate("diag_jsonl_len", diag_jsonl_len, DIAG_JSONL_LEN_SQL)


def diag_jsonl_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic twin of jsonl_roundtrip carrying ONLY the content
    checksum (see diag_jsonl_len)."""
    back = _jsonl_back(spark, sf_dir)
    return (
        back.groupBy("lang")
        .agg(F.sum(_md5_mod(F.col("text"))).cast("bigint").alias("text_h"))
        .orderBy("lang")
    )


DIAG_JSONL_HASH_SQL = """
SELECT lang,
       sum(('0x' || substring(md5(text), 17, 16))::UBIGINT % 1000000007)::BIGINT AS text_h
FROM documents GROUP BY lang ORDER BY lang
"""
gate("diag_jsonl_hash", diag_jsonl_hash, DIAG_JSONL_HASH_SQL)


def wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET (Common Crawl) sink→source round-trip (sources/wet): write
    documents as WARC/1.0 conversion records, re-parse with the
    delimiter-framed byte-exact reader, recover doc_id/lang from the
    target URI, and aggregate — the oracle aggregates the original
    parquet directly, so any payload byte lost to the record framing or
    the Content-Length slice breaks the hash."""
    from scholarmind_spark.sources.wet import read_wet, write_wet
    from scholarmind_spark.util import proc_tmp_dir

    d = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://example.org/"),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("uri"),
        "text",
    )
    out = proc_tmp_dir("sm_wet")  # see _jsonl_back
    write_wet(d, out)
    back = read_wet(spark, out).select(
        F.regexp_extract(F.col("uri"), r"example\.org/([a-z]+)/", 1).alias(
            "lang"
        ),
        F.regexp_extract(F.col("uri"), r"/([0-9]+)\z", 1)
        .cast("bigint")
        .alias("doc_id"),
        "text",
    )
    return _docs_lang_agg(back)


gate("wet_roundtrip", wet_roundtrip, JSONL_ROUNDTRIP_SQL)


def _orc_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem slice → ORC sink → ORC source, shared by the roundtrip gate
    query and its per-column diagnostic twins."""
    from pyspark.sql import types as T

    from scholarmind_spark.sources.orc import read_orc, write_orc

    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_returnflag"
    )
    from scholarmind_spark.util import proc_tmp_dir

    out = proc_tmp_dir("sm_orc")  # see _jsonl_back
    write_orc(l, out)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            # the testdata timestamps read as NTZ; ORC enforces LTZ/NTZ
            # compatibility between file and requested schema
            T.StructField("l_shipdate", T.TimestampNTZType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
        ]
    )
    return read_orc(spark, out, schema)


def _ntz_max_us(col: str) -> "F.Column":
    """Max of an NTZ timestamp as epoch MICROSECONDS (bigint), computed
    WITHOUT ever casting the NTZ value to an instant: ``timestampdiff``
    between two NTZ operands is pure wall-clock arithmetic, so
    ``spark.sql.session.timeZone`` never enters.  (The previous
    ``unix_micros(to_utc_timestamp(...))`` form first cast NTZ→TIMESTAMP
    through the session zone — making "UTC" a no-op — and shifted by the
    session offset on any non-UTC driver session; verified: this form is
    exact under TZ=America/New_York while that one drifts 4-5h.)"""
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', max({col}))"
    )


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink→source round-trip over a lineitem slice (bigint, timestamp,
    double, string all cross the codec); the oracle aggregates the original
    parquet, so any value the ORC codec mangles breaks the hash."""
    back = _orc_back(spark, sf_dir)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_orderkey").alias("key_sum"),
            F.round(F.sum(_dec(F.col("l_extendedprice"))), 2).cast("double").alias("price_sum"),
            _ntz_max_us("l_shipdate").alias("max_ship_us"),
        )
        .orderBy("l_returnflag")
    )


ORC_ROUNDTRIP_SQL = """
SELECT l_returnflag, count(*) AS n, sum(l_orderkey)::BIGINT AS key_sum,
       round(sum(l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE AS price_sum,
       epoch_us(max(l_shipdate)) AS max_ship_us
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""
gate("orc_roundtrip", orc_roundtrip, ORC_ROUNDTRIP_SQL)


def diag_orc_ints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic twin of orc_roundtrip carrying ONLY the integer
    aggregates (count/key-sum/timestamp-epoch) — isolates which column an
    unreproducible-environment hash failure sits on."""
    back = _orc_back(spark, sf_dir)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_orderkey").alias("key_sum"),
            _ntz_max_us("l_shipdate").alias("max_ship_us"),
        )
        .orderBy("l_returnflag")
    )


DIAG_ORC_INTS_SQL = """
SELECT l_returnflag, count(*) AS n, sum(l_orderkey)::BIGINT AS key_sum,
       epoch_us(max(l_shipdate)) AS max_ship_us
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""
gate("diag_orc_ints", diag_orc_ints, DIAG_ORC_INTS_SQL)


def diag_orc_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic twin of orc_roundtrip carrying ONLY the decimal-summed
    price column (see diag_orc_ints)."""
    back = _orc_back(spark, sf_dir)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.round(F.sum(_dec(F.col("l_extendedprice"))), 2).cast("double").alias("price_sum"),
        )
        .orderBy("l_returnflag")
    )


DIAG_ORC_PRICE_SQL = """
SELECT l_returnflag,
       round(sum(l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE AS price_sum
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""
gate("diag_orc_price", diag_orc_price, DIAG_ORC_PRICE_SQL)


# Three gates (dedup_clusters, dedup_cluster_reps, dedup_cluster_sizes)
# consume the SAME pairs→connected-components relation; in one battery or
# bench job the CC loop (the cost: one driver action per fixpoint round)
# should run once, not three times.  The labels are memoized per
# (session, sf_dir): tiny (one row per pair-graph node), already
# materialized in the loop's final localCheckpoint blocks by its last
# round's change count (no extra action here), and deliberately NOT
# attached for release — bench's clearCache() between queries clears SQL
# caches, never these RDD blocks, so every later consumer reuses them.
_CC_MEMO: dict = {}


def _shared_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scholarmind_spark.util import unpersist_any

    for k in list(_CC_MEMO):
        if k[0] is not spark:  # stale session: free its blocks AND entry
            try:
                for c in _CC_MEMO[k][1]:
                    unpersist_any(c)
            except Exception:
                pass  # the old session may already be stopped
            del _CC_MEMO[k]
    key = (spark, sf_dir)
    entry = _CC_MEMO.get(key)
    if entry is None:
        from scholarmind_spark.operators.cluster import connected_components

        pairs = ngram_jaccard_pairs(
            _t(spark, sf_dir, "documents"), threshold=0.6
        )
        comp = connected_components(pairs.select("id_a", "id_b"))
        caches = list(getattr(comp, "_sm_caches", []))
        # the loop's last action materialized the labels; the pair-lister's
        # intermediates are no longer reachable from that checkpoint — free
        # them now
        for c in getattr(pairs, "_sm_caches", []):
            unpersist_any(c)
        comp._sm_caches = []  # shared state: consumers must not release it
        # keep the labels' own block handles privately so
        # reset_shared_components can free them
        _CC_MEMO[key] = (comp, caches)
        return comp
    return entry[0]


def reset_shared_components() -> None:
    """Drop the memoized CC labels and free their blocks.

    The bench harness calls this before each timed rep of the cluster
    family's FIRST query so that query's median honestly includes the CC
    cost (otherwise rep 1 pays it and the median of the warm reps hides
    it); the later family members then measure the shared-consumer path —
    which is the production composition the memo exists for."""
    from scholarmind_spark.util import unpersist_any

    for comp, caches in _CC_MEMO.values():
        for c in caches:
            try:
                unpersist_any(c)
            except Exception:
                pass  # session may already be stopped
    _CC_MEMO.clear()


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → transitive duplicate clusters → survivor flag: n-gram
    Jaccard pairs feed min-label-propagation connected components (the
    oracle recomputes them with a recursive CTE); min id per cluster
    survives.  CC labels shared across the three cluster gates."""
    return _shared_components(spark, sf_dir).select(
        "node",
        "component",
        (F.col("node") == F.col("component")).alias("is_survivor"),
    )


def _dedup_clusters_sql() -> str:
    from scholarmind_spark.operators.cluster import connected_components_sql

    cc = connected_components_sql(ngram_jaccard_pairs_sql("documents", threshold=0.6))
    return f"SELECT node, component, node = component AS is_survivor FROM ({cc})"


gate("dedup_clusters", dedup_clusters, _dedup_clusters_sql())


def dedup_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based cluster representative selection
    (operators/cluster.cluster_representatives): near-dup clusters from
    n-gram Jaccard pairs, keep = highest quality_score (ties → lowest
    doc_id) — the dedup pipeline's final keep/drop decision."""
    from scholarmind_spark.operators.cluster import cluster_representatives
    from scholarmind_spark.operators.textstats import quality_score

    d = _t(spark, sf_dir, "documents")
    scored = d.select("doc_id", quality_score(F.col("text")).alias("q"))
    return cluster_representatives(
        None, scored, "doc_id", "q",
        components=_shared_components(spark, sf_dir),
    ).orderBy("component")


def _dedup_cluster_reps_sql() -> str:
    from scholarmind_spark.operators.cluster import cluster_representatives_sql
    from scholarmind_spark.operators.textstats import quality_score_sql

    return (
        "SELECT * FROM ("
        + cluster_representatives_sql(
            ngram_jaccard_pairs_sql("documents", threshold=0.6),
            f"SELECT doc_id, {quality_score_sql('text')} AS q FROM documents",
            "doc_id",
            "q",
        )
        + ") ORDER BY component"
    )


gate("dedup_cluster_reps", dedup_cluster_reps, _dedup_cluster_reps_sql())


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: how many near-dup clusters have
    2, 3, ... members — the one-look summary of corpus duplication
    structure (a fat tail means template farms, not pairwise dupes).
    Composes the oracle-checked pairs→components chain with two tiny
    aggregates; cluster membership count includes the survivor.  CC
    labels shared across the three cluster gates."""
    comp = _shared_components(spark, sf_dir)
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def _dedup_cluster_sizes_sql() -> str:
    from scholarmind_spark.operators.cluster import connected_components_sql

    cc = connected_components_sql(
        ngram_jaccard_pairs_sql("documents", threshold=0.6)
    )
    return f"""
SELECT cluster_size, count(*)::BIGINT AS n_clusters FROM (
  SELECT component, count(*)::BIGINT AS cluster_size
  FROM ({cc}) GROUP BY component
) GROUP BY cluster_size ORDER BY cluster_size"""


gate("dedup_cluster_sizes", dedup_cluster_sizes, _dedup_cluster_sizes_sql())


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-sink round-trip: write lineitem+orders bucketed on the join
    key (one shuffle paid at write), then join the bucketed tables — the
    join itself is exchange-free (asserted in tests/test_bucketed.py) and
    the RESULT is checked here against the plain-join oracle."""
    import os

    from scholarmind_spark.sinks.bucketed import write_bucketed

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice"
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderstatus"
    )
    # pid-suffixed table names: two batteries on one host previously
    # clobbered each other's fixed sm_gate_* tables mid-read
    tli, to = f"sm_gate_li_{os.getpid()}", f"sm_gate_o_{os.getpid()}"
    write_bucketed(li, tli, "okey", buckets=8)
    write_bucketed(o, to, "okey", buckets=8)
    j = spark.table(tli).join(spark.table(to), "okey")
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(_dec(F.col("l_extendedprice"))).cast("double"), 2).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


BUCKETED_JOIN_SQL = """
SELECT o_orderstatus, count(*) AS n,
       round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE, 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
gate("bucketed_join_revenue", bucketed_join_revenue, BUCKETED_JOIN_SQL)


def partitioned_prune_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-sink round-trip: write events hive-partitioned by
    event_type, read back with a partition-key filter (pruned to 2 of 5
    directories — ``PartitionFilters`` asserted in
    tests/test_partitioned.py), aggregate, and check the RESULT against
    the unpartitioned oracle.  Aggregates are order-independent (counts,
    distinct, min/max) because ``value`` is a raw double whose sum depends
    on accumulation order."""
    from scholarmind_spark.sinks.partitioned import (
        read_partitioned,
        write_partitioned,
    )

    e = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    # under the per-process base: a concurrent battery's overwrite of a
    # SHARED fixed path raced this one's read-back scan
    from scholarmind_spark.util import proc_tmp_dir

    path = proc_tmp_dir("sm_gate_partitioned_events")
    write_partitioned(e, path, "event_type", sort_within="user_id")
    r = read_partitioned(spark, path).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return (
        r.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            # decimal min/max, one cast out: exact on both engines (raw-
            # double round() algorithms differ between Spark and DuckDB)
            F.min(_dec(F.col("value"))).cast("double").alias("min_value"),
            F.max(_dec(F.col("value"))).cast("double").alias("max_value"),
        )
        .orderBy("event_type")
    )


PARTITIONED_PRUNE_SQL = """
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
       min(value::DECIMAL(18,2))::DOUBLE AS min_value,
       max(value::DECIMAL(18,2))::DOUBLE AS max_value
FROM events WHERE event_type IN ('click', 'purchase')
GROUP BY event_type ORDER BY event_type
"""
gate("partitioned_prune_events", partitioned_prune_events, PARTITIONED_PRUNE_SQL)


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native CUBE lattice over (status, priority) with grouping_id — all
    four grouping sets in ONE pass (Spark expands the sets map-side, a
    single shuffle; same property as rollup_order_stats)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(_dec(F.col("o_totalprice"))), 2).cast("double").alias("total"),
            F.grouping_id().alias("gid"),
        )
        .orderBy(
            "gid",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(sum(o_totalprice::DECIMAL(18,2)), 2)::DOUBLE AS total,
       GROUPING(o_orderstatus, o_orderpriority) AS gid
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""
gate("cube_order_stats", cube_order_stats, CUBE_SQL)


def pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native pivot: order counts per priority × status.  The pivot value
    list is EXPLICIT (['F','O','P']) — with an inferred list Spark runs an
    extra distinct job and the column order becomes data-dependent.  Empty
    cells coalesce to 0 to match SQL's count-over-empty."""
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ["F", "O", "P"]],
    ).orderBy("o_orderpriority")


PIVOT_SQL = """
SELECT o_orderpriority,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""
gate("pivot_status_counts", pivot_status_counts, PIVOT_SQL)


SQL_SURFACE_TEXT = """
SELECT r_name AS region, count(*) AS n_lines,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def sql_surface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL accessibility (SURVEY §3/§7 design stance): register the star
    schema as temp views and run a pure ANSI SQL text through
    ``spark.sql`` — the SAME string is the DuckDB oracle, proving the SQL
    surface is engine-portable.  Views are lazy; Catalyst sees through
    them to the parquet scans (pushdown identical to the DataFrame API)."""
    from scholarmind_spark.sql import register_tables, sql

    register_tables(
        spark, sf_dir, ["lineitem", "orders", "customer", "nation", "region"]
    )
    return sql(spark, SQL_SURFACE_TEXT)


gate("sql_surface_revenue", sql_surface_revenue, SQL_SURFACE_TEXT)


def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan table profile of the documents table (exact distincts so
    the oracle verifies bit-for-bit; at 100 TB they swap to
    approx_count_distinct — bound pinned in tests/test_approx.py)."""
    from scholarmind_spark.operators.profile import profile_table

    return profile_table(
        _t(spark, sf_dir, "documents"),
        columns=["doc_id", "lang", "source", "n_chars"],
    )


def _profile_documents_sql() -> str:
    from scholarmind_spark.operators.profile import profile_table_sql

    return profile_table_sql("documents", ["doc_id", "lang", "source", "n_chars"])


gate("profile_documents", profile_documents, _profile_documents_sql())


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar surface (SURVEY §2.8): parse the events ``props`` JSON
    column with an explicit schema (``from_json`` — ONE parse per row into
    a typed struct; ``get_json_object`` would re-parse per extracted
    field) and aggregate the extracted value per event type."""
    from pyspark.sql import types as T

    e = _events(spark, sf_dir)
    props_schema = T.StructType([T.StructField("k", T.LongType())])
    p = e.select(
        "event_type", F.from_json("props", props_schema).getField("k").alias("k")
    )
    return (
        p.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = """
SELECT event_type, count(*) AS n,
       count(json_extract(props, '$.k')) AS n_with_k,
       sum(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS k_sum,
       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY event_type ORDER BY event_type
"""
gate("events_json_props", events_json_props, EVENTS_JSON_SQL)


def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document distinctive terms (TF-IDF ordering on exact integer
    keys: tf desc, df asc) — vocabulary-sized df table broadcasts."""
    from scholarmind_spark.operators.textstats import doc_top_terms

    from scholarmind_spark.util import attach_caches

    out = doc_top_terms(_t(spark, sf_dir, "documents"), k=3)
    # re-attach past the .orderBy (a new DataFrame drops the cache tag)
    return attach_caches(
        out.orderBy("id", "rank"), list(getattr(out, "_sm_caches", ()))
    )


gate("text_top_terms", text_top_terms, doc_top_terms_sql("documents", k=3))


def text_word_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style word-repetition quality signals over the corpus (the
    testdata documents have no newlines, so repetition is measured at the
    word level rather than lines)."""
    from scholarmind_spark.operators.textstats import word_repetition

    return word_repetition(_t(spark, sf_dir, "documents")).orderBy("id")


gate("text_word_repetition", text_word_repetition, word_repetition_sql("documents"))


def text_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 quality rule battery (operators/quality): per-doc
    booleans for the seven canonical filters + the combined keep flag,
    every ratio threshold cleared to an integer predicate — one codegen
    projection, zero shuffles, zero floats."""
    from scholarmind_spark.operators.quality import gopher_quality_flags

    return gopher_quality_flags(_t(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


def _text_gopher_flags_sql() -> str:
    from scholarmind_spark.operators.quality import gopher_quality_flags_sql

    return (
        "SELECT * FROM ("
        + gopher_quality_flags_sql("documents")
        + ") ORDER BY doc_id"
    )


gate("text_gopher_flags", text_gopher_flags, _text_gopher_flags_sql())


def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition battery (operators/quality.gopher_repetition_stats):
    per-doc top n-gram (n=2..4) and duplicate n-gram (n=5..10) character
    fractions in integer micros + the combined keep flag — one tagged-gram
    explode, one count shuffle, division-free thresholds."""
    from scholarmind_spark.operators.quality import gopher_repetition_stats

    return gopher_repetition_stats(_t(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


def _text_gopher_repetition_sql() -> str:
    from scholarmind_spark.operators.quality import gopher_repetition_stats_sql

    return (
        "SELECT * FROM ("
        + gopher_repetition_stats_sql("documents")
        + ") ORDER BY doc_id"
    )


gate("text_gopher_repetition", text_gopher_repetition, _text_gopher_repetition_sql())


def text_gopher_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher §A1.1 keep decision (operators/quality.gopher_keep):
    rule battery AND repetition battery, met in one id equi-join — Rae et
    al. apply both before training; this is the single-column verdict a
    corpus pipeline actually filters on."""
    from scholarmind_spark.operators.quality import gopher_keep

    return gopher_keep(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _text_gopher_keep_sql() -> str:
    from scholarmind_spark.operators.quality import gopher_keep_sql

    return (
        "SELECT * FROM ("
        + gopher_keep_sql("documents")
        + ") ORDER BY doc_id"
    )


gate("text_gopher_keep", text_gopher_keep, _text_gopher_keep_sql())


def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥2 word-3-grams with
    the 50-doc 'benchmark' slice.  The benchmark shingle set broadcasts;
    the corpus streams through the semi-join unshuffled."""
    from scholarmind_spark.operators.decontam import decontamination_overlap

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 50)
    corpus = d.filter(F.col("doc_id") >= 50)
    return decontamination_overlap(corpus, bench, k=3, min_overlap=2).orderBy(
        "id"
    )


def _decontam_overlap_sql() -> str:
    from scholarmind_spark.operators.decontam import decontamination_overlap_sql

    return decontamination_overlap_sql(
        "SELECT * FROM documents WHERE doc_id >= 50",
        "SELECT * FROM documents WHERE doc_id < 50",
        k=3,
        min_overlap=2,
    )


gate("decontam_overlap", decontam_overlap, _decontam_overlap_sql())


def lit_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental upsert: a v2 update batch (every even doc) merged into a
    v1 snapshot (docs not divisible by 3) — updates replace snapshot rows
    by key, new keys insert, untouched snapshot rows survive.  One shuffle
    on the merge key (operators/merge.py), no join."""
    from scholarmind_spark.operators.merge import merge_upsert

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    snapshot = d.filter(F.col("doc_id") % 3 != 0).withColumn("version", F.lit(1))
    updates = (
        d.filter(F.col("doc_id") % 2 == 0)
        .withColumn("version", F.lit(2))
        .withColumn("text", F.concat(F.lit("rev2: "), F.col("text")))
    )
    m = merge_upsert(snapshot, updates, "doc_id", version_col="version")
    return m.select(
        "doc_id", "version", F.length("text").alias("text_len"), "lang", "source"
    ).orderBy("doc_id")


def _lit_incremental_merge_sql() -> str:
    from scholarmind_spark.operators.merge import merge_upsert_sql

    inner = merge_upsert_sql(
        "SELECT doc_id, text, lang, source, 1 AS version FROM documents WHERE doc_id % 3 <> 0",
        "SELECT doc_id, 'rev2: ' || text AS text, lang, source, 2 AS version FROM documents WHERE doc_id % 2 = 0",
        keys=["doc_id"],
        version_col="version",
    )
    return f"""
SELECT doc_id, version, length(text) AS text_len, lang, source
FROM ({inner}) ORDER BY doc_id
"""


gate("lit_incremental_merge", lit_incremental_merge, _lit_incremental_merge_sql())


def lit_flatten_presentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4/D10 round-trip: presentation flattening — configured array columns
    comma-join, others take their first element, nulls render '' — against
    a DuckDB twin computing the same renderings directly."""
    from scholarmind_spark.sinks.parquet import flatten_for_presentation

    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    rec = d.select(
        doc_id.alias("doc_id"),
        F.array(
            F.concat(F.lit("Smith "), _s(doc_id % 5)),
            F.concat(F.lit("Doe "), _s(doc_id % 7)),
        ).alias("authors"),  # JOINED_ARRAY_FIELDS → comma-join
        F.array(
            _s(F.lit(1000) + doc_id % 100), _s(F.lit(2000) + doc_id % 100)
        ).alias("issn"),  # FIRST_ELEMENT_FIELDS → first element
        F.when(doc_id % 10 == 0, F.lit(None).cast("array<string>"))
        .otherwise(F.array(F.concat(F.lit("kw"), _s(doc_id % 3))))
        .alias("keywords"),  # null arrays render ''
        F.when(doc_id % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("T"), _s(doc_id)))
        .alias("title"),  # null strings render ''
    )
    return flatten_for_presentation(rec)


LIT_FLATTEN_SQL = """
SELECT doc_id,
       'Smith ' || (doc_id % 5)::VARCHAR || ', Doe ' || (doc_id % 7)::VARCHAR AS authors,
       (1000 + doc_id % 100)::VARCHAR AS issn,
       CASE WHEN doc_id % 10 = 0 THEN '' ELSE 'kw' || (doc_id % 3)::VARCHAR END AS keywords,
       CASE WHEN doc_id % 7 = 0 THEN '' ELSE 'T' || doc_id::VARCHAR END AS title
FROM documents
"""
gate("lit_flatten_presentation", lit_flatten_presentation, LIT_FLATTEN_SQL)


SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
STRATA_RATES = {"en": 0.25, "de": 0.5}


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by key hash (reproducible under
    any partitioning/engine): per-(split, lang) counts."""
    from scholarmind_spark.operators.sampling import deterministic_split

    d = _t(spark, sf_dir, "documents")
    s = deterministic_split(d, key="doc_id", weights=SPLIT_WEIGHTS)
    return s.groupBy("split", "lang").agg(F.count("*").alias("n")).orderBy("split", "lang")


def _dataset_split_sql() -> str:
    from scholarmind_spark.operators.sampling import deterministic_split_sql

    case = deterministic_split_sql("doc_id", SPLIT_WEIGHTS)
    return f"""
SELECT {case} AS split, lang, count(*) AS n
FROM documents GROUP BY 1, 2 ORDER BY split, lang
"""


gate("dataset_split", dataset_split, _dataset_split_sql())


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-class downsampling (hash-bucket sampleBy):
    post-sample per-language counts."""
    from scholarmind_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    s = stratified_sample(d, key="doc_id", class_col="lang", rates=STRATA_RATES)
    return s.groupBy("lang").agg(F.count("*").alias("n")).orderBy("lang")


def _stratified_sample_sql() -> str:
    from scholarmind_spark.operators.sampling import stratified_sample_sql

    pred = stratified_sample_sql("doc_id", "lang", STRATA_RATES)
    return f"""
SELECT lang, count(*) AS n FROM documents WHERE {pred} GROUP BY lang ORDER BY lang
"""


gate("stratified_sample", stratified_sample_docs, _stratified_sample_sql())


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join (skew tool): lineitem × part on a salted key, then
    revenue per part type.  The salt only changes physical placement, so
    the result is row-identical to the plain join the oracle runs —
    proving the skew tool is semantics-free."""
    from scholarmind_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_extendedprice"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = salted_join(li, p, on="p_partkey", buckets=8)
    return (
        joined.groupBy("p_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(_dec(F.col("l_extendedprice"))).cast("double"), 2).alias("revenue"),
        )
        .orderBy("p_type")
    )


Q_SALTED_SQL = """
SELECT p_type, count(*) AS n,
       round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE, 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type ORDER BY p_type
"""
gate("skew_salted_join", q_skew_salted_join, Q_SALTED_SQL)


def q_skew_two_phase_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase exact distinct count (skew tool): dedup (key, value) pairs
    first (hot key's values spread across tasks), then count — same result
    as COUNT(DISTINCT), which the oracle runs directly."""
    from scholarmind_spark.operators.skew import two_phase_distinct_count

    e = _events(spark, sf_dir)
    return two_phase_distinct_count(e, "event_type", "user_id").orderBy("event_type")


Q_TWO_PHASE_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_distinct
FROM events GROUP BY event_type ORDER BY event_type
"""
gate("skew_two_phase_distinct", q_skew_two_phase_distinct, Q_TWO_PHASE_SQL)


# ---------------------------------------------------------------- registry

# ----------------------------------------------- sketches / graph census /
# time-series / privacy (round-8 batch 2)

def sketch_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketch): distinct lineitem
    order keys (~15k at sf0.01 — well past k, so the gate exercises the
    ESTIMATOR branch, not the exact small-set one) from the 256 smallest
    distinct 60-bit key hashes — O(k) state, O(P·k) shuffle via the
    mapInPandas partial — next to the exact count so the gate also
    audits the estimator's error.  (The synthetic documents vocabulary
    is only ~31 tokens, so keys, not tokens, are the fixture.)"""
    from scholarmind_spark.operators.sketch import kmv_distinct_report

    keys = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("v")
    )
    rep = kmv_distinct_report(keys, "v", k=256)
    exact = keys.agg(F.countDistinct("v").alias("exact_distinct"))
    return rep.crossJoin(exact).select(
        "k",
        "n_minima",
        "kth_hash",
        "est_distinct",
        "exact_distinct",
        F.round(
            F.lit(100)
            * (F.col("est_distinct") - F.col("exact_distinct")).cast("double")
            / F.col("exact_distinct"),
            2,
        ).alias("rel_err_pct"),
    )


def _sketch_distinct_kmv_sql() -> str:
    from scholarmind_spark.operators.sketch import kmv_distinct_report_sql

    keys = "SELECT l_orderkey::VARCHAR AS v FROM lineitem"
    rep = kmv_distinct_report_sql(keys, k=256)
    return f"""
WITH rep AS ({rep}),
ex AS (SELECT count(DISTINCT v)::BIGINT AS exact_distinct
       FROM ({keys}))
SELECT k, n_minima, kth_hash, est_distinct, exact_distinct,
       round(100 * (est_distinct - exact_distinct)::DOUBLE / exact_distinct,
             2) AS rel_err_pct
FROM rep, ex
"""


gate("sketch_distinct_kmv", sketch_distinct_kmv, _sketch_distinct_kmv_sql())


def sketch_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV overlap sketch (operators/sketch.kmv_overlap_report): Jaccard
    between the sets of customers who ordered in 1995 vs 1996 (~1.2k
    distinct each, true overlap ~0.64 — both sides past k, partial
    overlap) from two mergeable O(k) sketches — the repeat-audience /
    cross-corpus-contamination shape — with the exact Jaccard alongside
    as the error audit."""
    from scholarmind_spark.operators.sketch import kmv_overlap_report

    o = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.col("o_custkey").cast("string").alias("v"),
    )
    even = o.where(F.col("yr") == 1995).select("v")
    odd = o.where(F.col("yr") == 1996).select("v")
    rep = kmv_overlap_report(even, odd, "v", k=256)
    ea = even.distinct()
    ob = odd.distinct()
    inter = ea.join(ob, "v", "left_semi").agg(F.count("*").alias("n_inter"))
    sizes = ea.agg(F.count("*").alias("n_a")).crossJoin(
        ob.agg(F.count("*").alias("n_b"))
    )
    exact = sizes.crossJoin(inter).select(
        F.round(
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            4,
        ).alias("exact_jaccard")
    )
    from scholarmind_spark.util import attach_caches

    # re-attach past the .crossJoin (a new DataFrame drops the cache tag)
    return attach_caches(
        rep.crossJoin(exact), list(getattr(rep, "_sm_caches", ()))
    )


def _sketch_overlap_kmv_sql() -> str:
    from scholarmind_spark.operators.sketch import kmv_overlap_report_sql

    half0 = (
        "SELECT o_custkey::VARCHAR AS v FROM orders"
        " WHERE year(o_orderdate) = 1995"
    )
    half1 = (
        "SELECT o_custkey::VARCHAR AS v FROM orders"
        " WHERE year(o_orderdate) = 1996"
    )
    rep = kmv_overlap_report_sql(half0, half1, k=256)
    return f"""
WITH rep AS ({rep}),
ea AS (SELECT DISTINCT v FROM ({half0})),
ob AS (SELECT DISTINCT v FROM ({half1})),
ex AS (
  SELECT round(
    (SELECT count(*) FROM ea WHERE v IN (SELECT v FROM ob))::DOUBLE
    / ((SELECT count(*) FROM ea) + (SELECT count(*) FROM ob)
       - (SELECT count(*) FROM ea WHERE v IN (SELECT v FROM ob))),
    4) AS exact_jaccard
)
SELECT rep.*, ex.exact_jaccard FROM rep, ex
"""


gate("sketch_overlap_kmv", sketch_overlap_kmv, _sketch_overlap_kmv_sql())


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient
    (operators/graph.triangle_stats) over the word co-occurrence graph —
    degree-oriented counting (Suri & Vassilvitskii WWW'11), the
    hot-vertex-safe 100 TB plan."""
    from scholarmind_spark.operators.graph import (
        cooccurrence_edges,
        triangle_stats,
    )

    return triangle_stats(
        cooccurrence_edges(_t(spark, sf_dir, "documents"))
    )


def _graph_triangles_sql() -> str:
    from scholarmind_spark.operators.graph import (
        cooccurrence_edges_sql,
        triangle_stats_sql,
    )

    return triangle_stats_sql(cooccurrence_edges_sql("documents"))


gate("graph_triangles", graph_triangles, _graph_triangles_sql())


def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume ACF at lags 1..7 (operators/acf.autocorrelation):
    Pearson autocorrelation of the per-day event count series — the
    seasonality diagnostic; TZ-free integer epoch-day key, int64 sums,
    one pinned float per lag."""
    from scholarmind_spark.operators.acf import autocorrelation

    e = _events(spark, sf_dir)
    series = e.groupBy(
        F.expr("unix_timestamp(ts) div 86400").alias("t")
    ).agg(F.count("*").alias("y"))
    return autocorrelation(series, "t", "y", max_lag=7)


def _events_autocorrelation_sql() -> str:
    from scholarmind_spark.operators.acf import autocorrelation_sql

    series = (
        "SELECT floor(epoch(ts))::BIGINT // 86400 AS t, "
        "count(*)::BIGINT AS y FROM events GROUP BY 1"
    )
    return autocorrelation_sql(series, max_lag=7)


gate("events_autocorrelation", events_autocorrelation, _events_autocorrelation_sql())


def dataset_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval split-leakage audit: near-duplicate pairs that CROSS a
    deterministic 80/20 split boundary (operators/sampling
    deterministic_split × operators/neardup ngram_jaccard_against).
    Random splits of a deduplicated-but-not-perfectly corpus leak
    near-copies of training docs into eval (Lee et al. 2021 §6.2 — the
    eval-inflation failure mode); this is the audit a pipeline runs
    before trusting held-out metrics.  One row: split sizes, leaked-pair
    count, distinct leaked eval docs, leak percentage."""
    from scholarmind_spark.operators.neardup import ngram_jaccard_against
    from scholarmind_spark.operators.sampling import deterministic_split

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    s = deterministic_split(
        d, "doc_id", {"train": 0.8, "eval": 0.2}
    ).persist()
    train = s.where(F.col("split") == "train")
    ev = s.where(F.col("split") == "eval")
    pairs = ngram_jaccard_against(ev, train, threshold=0.5)
    leaks = pairs.agg(
        F.count("*").alias("n_leak_pairs"),
        F.countDistinct("new_id").alias("n_leaked_eval_docs"),
    )
    counts = train.agg(F.count("*").alias("n_train")).crossJoin(
        ev.agg(F.count("*").alias("n_eval"))
    )
    from scholarmind_spark.util import attach_caches

    # propagate the shingle-array cache ngram_jaccard_against attached to
    # `pairs` — attaching only [s] would leak the corpus-wide docs cache
    # past release_caches(out)
    inner = list(getattr(pairs, "_sm_caches", []))
    out = counts.crossJoin(leaks).select(
        "n_train",
        "n_eval",
        "n_leak_pairs",
        "n_leaked_eval_docs",
        F.round(
            F.lit(100) * F.col("n_leaked_eval_docs").cast("double")
            / F.col("n_eval"),
            2,
        ).alias("leak_pct"),
    )
    return attach_caches(out, [s, *inner])


def _dataset_split_leakage_sql() -> str:
    from scholarmind_spark.operators.neardup import ngram_jaccard_against_sql
    from scholarmind_spark.operators.sampling import deterministic_split_sql

    case = deterministic_split_sql("doc_id", {"train": 0.8, "eval": 0.2})
    pairs = ngram_jaccard_against_sql(
        f"(SELECT doc_id, text FROM documents WHERE ({case}) = 'eval')",
        f"(SELECT doc_id, text FROM documents WHERE ({case}) = 'train')",
        threshold=0.5,
    )
    return f"""
WITH pairs AS ({pairs}),
leaks AS (
  SELECT count(*)::BIGINT AS n_leak_pairs,
         count(DISTINCT new_id)::BIGINT AS n_leaked_eval_docs
  FROM pairs
),
counts AS (
  SELECT sum(CASE WHEN ({case}) = 'train' THEN 1 ELSE 0 END)::BIGINT
           AS n_train,
         sum(CASE WHEN ({case}) = 'eval' THEN 1 ELSE 0 END)::BIGINT
           AS n_eval
  FROM documents
)
SELECT n_train, n_eval, n_leak_pairs, n_leaked_eval_docs,
       round(100 * n_leaked_eval_docs::DOUBLE / n_eval, 2) AS leak_pct
FROM counts, leaks
"""


gate("dataset_split_leakage", dataset_split_leakage, _dataset_split_leakage_sql())


def text_card_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated card detection (operators/pii.with_card_validation):
    every doc gets a synthetic 16-digit run whose last digit cycles with
    doc_id, so ~10% carry a valid ISO 7812 check digit — the gate
    groups by that trailing digit and shows the validator separating
    real-checksum runs from shape-only lookalikes (the ~10x
    false-positive cut a corpus PII report needs)."""
    from scholarmind_spark.operators.pii import with_card_validation

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("pay "),
            F.lpad((F.col("doc_id") * 6121212121).cast("string"), 15, "0"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(" now"),
        ).alias("text"),
    )
    v = with_card_validation(d)
    return (
        v.groupBy((F.col("doc_id") % 10).alias("check_digit"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_card_candidates").alias("n_candidates"),
            F.sum("n_card_luhn_valid").alias("n_valid"),
        )
        .orderBy("check_digit")
    )


def _text_card_luhn_sql() -> str:
    from scholarmind_spark.operators.pii import with_card_validation_sql

    synth = (
        "(SELECT doc_id, 'pay ' || lpad((doc_id * 6121212121)::VARCHAR, 15, '0')"
        " || (doc_id % 10)::VARCHAR || ' now' AS text FROM documents)"
    )
    inner = with_card_validation_sql(synth)
    return f"""
SELECT doc_id % 10 AS check_digit, count(*)::BIGINT AS n_docs,
       sum(n_card_candidates)::BIGINT AS n_candidates,
       sum(n_card_luhn_valid)::BIGINT AS n_valid
FROM ({inner})
GROUP BY doc_id % 10 ORDER BY check_digit
"""


gate("text_card_luhn", text_card_luhn, _text_card_luhn_sql())


def sketch_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (operators/sketch.cms_*):
    token counts estimated from a deliberately NARROW 4×16 sketch (the
    ~31-token vocabulary forces collisions) next to the exact counts —
    the output exhibits the CMS one-sided guarantee (estimates never
    undercount; ``overcount`` ≥ 0 always) on the 10 most frequent
    tokens."""
    from scholarmind_spark.operators.sketch import cms_build, cms_estimate
    from scholarmind_spark.operators.textstats import tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.transform(tokens(F.col("text")), F.lower)).alias("v")
    ).where(F.col("v") != "").persist()
    cells = cms_build(toks, "v", width=16, depth=4)
    exact = (
        toks.groupBy("v")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "v")
        .limit(10)
    )
    est = cms_estimate(cells, exact.select("v"), "v", width=16, depth=4)
    from scholarmind_spark.util import attach_caches

    out = (
        exact.join(est, exact["v"] == est["key"])
        .select(
            exact["v"].alias("token"),
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "token")
    )
    return attach_caches(out, [toks])


def _sketch_cms_topk_sql() -> str:
    from scholarmind_spark.operators.sketch import (
        cms_build_sql,
        cms_estimate_sql,
    )
    from scholarmind_spark.operators.textstats import tokens_sql

    toks = (
        f"SELECT v FROM (SELECT lower(unnest({tokens_sql('text')})) AS v"
        f" FROM documents) WHERE v <> ''"
    )
    cells = cms_build_sql(toks, width=16, depth=4)
    exact = (
        f"SELECT v, count(*)::BIGINT AS exact_n FROM ({toks}) GROUP BY v"
        f" ORDER BY exact_n DESC, v LIMIT 10"
    )
    est = cms_estimate_sql(cells, f"SELECT v FROM ({exact})", width=16, depth=4)
    return f"""
WITH exact AS MATERIALIZED ({exact}),
est AS ({est})
SELECT exact.v AS token, exact_n, cms_est,
       (cms_est - exact_n)::BIGINT AS overcount
FROM exact JOIN est ON exact.v = est.key
ORDER BY exact_n DESC, token
"""


gate("sketch_cms_topk", sketch_cms_topk, _sketch_cms_topk_sql())


def sketch_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS inner-product join-size prediction (operators/sketch
    cms_join_size_estimate): estimate |events ⋈ orders| on
    user_id = o_custkey from two 4×16384 sketches without running the
    join, next to the exact size — the planner's cardinality-estimation
    shape; the estimate is a one-sided upper bound (collisions only
    add).  Width 16384: the CM inner-product error scales with
    |a|₁·|b|₁/w, and at this gate's L1 masses (10k × 15k rows) narrower
    sketches sit below the noise floor (measured: w=256 → +590%,
    w=16384 → +5.8%); cell storage is bounded by DISTINCT keys per row,
    not width, so the wide modulus costs nothing."""
    from scholarmind_spark.operators.sketch import (
        cms_build,
        cms_join_size_estimate,
    )

    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("v")
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("v")
    )
    ca = cms_build(e, "v", width=16384, depth=4)
    cb = cms_build(o, "v", width=16384, depth=4)
    est = cms_join_size_estimate(ca, cb)
    exact = (
        e.groupBy("v")
        .agg(F.count("*").alias("na"))
        .join(o.groupBy("v").agg(F.count("*").alias("nb")), "v")
        .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0)).alias(
            "exact_join_size"
        ))
    )
    return est.crossJoin(exact).select(
        "est_join_size",
        "exact_join_size",
        F.round(
            F.lit(100)
            * (F.col("est_join_size") - F.col("exact_join_size")).cast("double")
            / F.col("exact_join_size"),
            2,
        ).alias("overcount_pct"),
    )


def _sketch_join_size_sql() -> str:
    from scholarmind_spark.operators.sketch import (
        cms_build_sql,
        cms_join_size_estimate_sql,
    )

    ev = "SELECT user_id::VARCHAR AS v FROM events"
    od = "SELECT o_custkey::VARCHAR AS v FROM orders"
    est = cms_join_size_estimate_sql(
        cms_build_sql(ev, width=16384, depth=4),
        cms_build_sql(od, width=16384, depth=4),
    )
    return f"""
WITH est AS ({est}),
exact AS (
  SELECT coalesce(sum(na * nb), 0)::BIGINT AS exact_join_size
  FROM (SELECT v, count(*) AS na FROM ({ev}) GROUP BY v) a
  JOIN (SELECT v, count(*) AS nb FROM ({od}) GROUP BY v) b USING (v)
)
SELECT est_join_size, exact_join_size,
       round(100 * (est_join_size - exact_join_size)::DOUBLE
             / exact_join_size, 2) AS overcount_pct
FROM est, exact
"""


gate("sketch_join_size", sketch_join_size, _sketch_join_size_sql())


def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-stability bounds (operators/robust.subsample_metric_ci):
    deterministic half-sample subsampling of mean(value) over 32
    hash-membership replicas — all-integer milli math, order statistics
    over the replica means; the spread answers 'is this mean stable or
    a sampling artifact' with zero RNG."""
    from scholarmind_spark.operators.robust import subsample_metric_ci

    return subsample_metric_ci(
        _events(spark, sf_dir), "event_id", "value", replicas=32
    )


def _events_bootstrap_ci_sql() -> str:
    from scholarmind_spark.operators.robust import subsample_metric_ci_sql

    return subsample_metric_ci_sql("events", "event_id", "value", replicas=32)


gate("events_bootstrap_ci", events_bootstrap_ci, _events_bootstrap_ci_sql())


def link_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood linkage blocking (operators/linkage
    sorted_neighborhood_link — Hernández & Stolfo 1995): customer names
    within 3 sort positions and edit distance ≤ 2, found with exactly
    (w-1)·n candidates via the distributed global-rank construction
    (range partition → per-partition ranks → tiny offset broadcast —
    never a single-partition window)."""
    from scholarmind_spark.operators.linkage import sorted_neighborhood_link

    c = _t(spark, sf_dir, "customer")
    return sorted_neighborhood_link(c, "c_name", window=3, max_dist=2)


def _link_sorted_neighborhood_sql() -> str:
    from scholarmind_spark.operators.linkage import (
        sorted_neighborhood_link_sql,
    )

    return sorted_neighborhood_link_sql(
        "customer", "c_name", window=3, max_dist=2
    )


gate("link_sorted_neighborhood", link_sorted_neighborhood, _link_sorted_neighborhood_sql())


def lineitem_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation (operators/audit.contract_check): six
    value rules over lineitem in ONE aggregate pass — a mix of rules the
    synthetic data satisfies and rules it measurably violates, so both
    the zero and non-zero reporting paths are exercised."""
    from scholarmind_spark.operators.audit import contract_check

    l = _t(spark, sf_dir, "lineitem")
    rules = [
        ("quantity_1_to_30", F.col("l_quantity").between(1, 30)),
        ("discount_0_to_0p1", F.col("l_discount").between(0, 0.1)),
        (
            "returnflag_enum",
            F.col("l_returnflag").isin("A", "N", "R"),
        ),
        ("shipdate_not_null", F.col("l_shipdate").isNotNull()),
        ("price_positive", F.col("l_extendedprice") > 0),
        ("orderkey_positive", F.col("l_orderkey") > 0),
    ]
    return contract_check(l, rules)


def _lineitem_contract_check_sql() -> str:
    from scholarmind_spark.operators.audit import contract_check_sql

    rules = [
        ("quantity_1_to_30", "l_quantity BETWEEN 1 AND 30"),
        ("discount_0_to_0p1", "l_discount BETWEEN 0 AND 0.1"),
        ("returnflag_enum", "l_returnflag IN ('A', 'N', 'R')"),
        ("shipdate_not_null", "l_shipdate IS NOT NULL"),
        ("price_positive", "l_extendedprice > 0"),
        ("orderkey_positive", "l_orderkey > 0"),
    ]
    return contract_check_sql("lineitem", rules)


gate("lineitem_contract_check", lineitem_contract_check, _lineitem_contract_check_sql())


def sketch_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch mergeability (operators/sketch kmv_merge/cms_merge): build
    per-batch sketches over three lineitem ingest slices, fold them, and
    compare against sketching the full data directly — the merged
    estimates must EQUAL the direct ones (mergeable sketches are the
    incremental-maintenance primitive: no per-batch full-corpus
    re-sketch).  One row: merged vs direct KMV distinct estimates and
    CMS point estimates, plus the equality flags as ints."""
    from scholarmind_spark.operators.sketch import (
        cms_build,
        cms_estimate,
        cms_merge,
        kmv_merge,
        kmv_minima,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("v"),
        (F.col("l_linenumber") % 3).alias("batch"),
    )
    batches = [li.where(F.col("batch") == i).select("v") for i in range(3)]
    k = 128
    merged_kmv = kmv_merge(
        kmv_merge(
            kmv_minima(batches[0], "v", k), kmv_minima(batches[1], "v", k), k
        ),
        kmv_minima(batches[2], "v", k),
        k,
    )
    direct_kmv = kmv_minima(li.select("v"), "v", k)
    mk = merged_kmv.agg(
        F.count("*").alias("mn"), F.max("h").alias("mh")
    )
    dk = direct_kmv.agg(
        F.count("*").alias("dn"), F.max("h").alias("dh")
    )

    w, d = 64, 3
    merged_cms = cms_merge(
        cms_merge(
            cms_build(batches[0], "v", width=w, depth=d),
            cms_build(batches[1], "v", width=w, depth=d),
        ),
        cms_build(batches[2], "v", width=w, depth=d),
    )
    direct_cms = cms_build(li.select("v"), "v", width=w, depth=d)
    # bare one-row constant (NOT limit(1) over lineitem: that would make
    # the probe's existence depend on the input being non-empty, while
    # the oracle probes a literal — a row-count divergence on empty data
    # — and adds a pointless scan)
    probe = spark.range(1).select(F.lit("1").alias("v"))
    me = cms_estimate(merged_cms, probe, "v", width=w, depth=d).select(
        F.col("cms_est").alias("merged_cms_est")
    )
    de = cms_estimate(direct_cms, probe, "v", width=w, depth=d).select(
        F.col("cms_est").alias("direct_cms_est")
    )
    return (
        mk.crossJoin(dk)
        .crossJoin(me)
        .crossJoin(de)
        .select(
            F.col("mn").alias("merged_kmv_n"),
            F.col("dn").alias("direct_kmv_n"),
            (F.col("mh") == F.col("dh")).cast("int").alias("kmv_equal"),
            "merged_cms_est",
            "direct_cms_est",
            (F.col("merged_cms_est") == F.col("direct_cms_est"))
            .cast("int")
            .alias("cms_equal"),
        )
    )


def _sketch_merge_incremental_sql() -> str:
    from scholarmind_spark.operators.sketch import (
        cms_build_sql,
        cms_estimate_sql,
        cms_merge_sql,
        kmv_merge_sql,
        kmv_minima_sql,
    )

    def batch(i: int) -> str:
        return (
            "SELECT l_orderkey::VARCHAR AS v FROM lineitem"
            f" WHERE l_linenumber % 3 = {i}"
        )

    full = "SELECT l_orderkey::VARCHAR AS v FROM lineitem"
    k = 128
    merged_kmv = kmv_merge_sql(
        kmv_merge_sql(
            kmv_minima_sql(batch(0), k), kmv_minima_sql(batch(1), k), k
        ),
        kmv_minima_sql(batch(2), k),
        k,
    )
    direct_kmv = kmv_minima_sql(full, k)
    w, d = 64, 3
    merged_cms = cms_merge_sql(
        cms_merge_sql(
            cms_build_sql(batch(0), width=w, depth=d),
            cms_build_sql(batch(1), width=w, depth=d),
        ),
        cms_build_sql(batch(2), width=w, depth=d),
    )
    direct_cms = cms_build_sql(full, width=w, depth=d)
    probe = "SELECT '1' AS v"
    me = cms_estimate_sql(merged_cms, probe, width=w, depth=d)
    de = cms_estimate_sql(direct_cms, probe, width=w, depth=d)
    return f"""
WITH mk AS (SELECT count(*)::BIGINT AS mn, max(h) AS mh
            FROM {merged_kmv}),
dk AS (SELECT count(*)::BIGINT AS dn, max(h) AS dh FROM {direct_kmv}),
me AS (SELECT cms_est AS merged_cms_est FROM ({me})),
de AS (SELECT cms_est AS direct_cms_est FROM ({de}))
SELECT mn AS merged_kmv_n, dn AS direct_kmv_n,
       (mh = dh)::INT AS kmv_equal,
       merged_cms_est, direct_cms_est,
       (merged_cms_est = direct_cms_est)::INT AS cms_equal
FROM mk, dk, me, de
"""


gate("sketch_merge_incremental", sketch_merge_incremental, _sketch_merge_incremental_sql())


def events_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (operators/mi.psi_bins): drift of the
    event value distribution between the first and second half of the
    time range, 10 equal-width bins, integer micro-nats — the industry
    model-input drift monitor (Σ < 0.1 rule of thumb), numeric-binned
    where drift_kl is categorical."""
    from scholarmind_spark.operators.mi import psi_bins

    e = _events(spark, sf_dir)
    day = F.expr("unix_timestamp(ts) div 86400")
    # integer div, not /2 + cast: Spark's bigint cast truncates while
    # DuckDB's ::BIGINT rounds — an odd (min+max) would split the halves
    # differently per engine
    mid = e.select(day.alias("__day")).agg(
        F.expr("(min(__day) + max(__day)) div 2").alias("__mid")
    )
    cur = e.crossJoin(F.broadcast(mid)).select(
        "value", (day >= F.col("__mid")).alias("cur")
    )
    return psi_bins(cur, "value", F.col("cur"), bins=10)


def _events_value_psi_sql() -> str:
    from scholarmind_spark.operators.mi import psi_bins_sql

    src = (
        "(SELECT value, (floor(epoch(ts))::BIGINT // 86400) >= "
        "(SELECT (min(floor(epoch(ts))::BIGINT // 86400)"
        " + max(floor(epoch(ts))::BIGINT // 86400)) // 2"
        " FROM events) AS cur FROM events)"
    )
    return psi_bins_sql(src, "value", "cur", bins=10)


gate("events_value_psi", events_value_psi, _events_value_psi_sql())


def events_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout locality (operators/zorder): Morton-interleave
    (user_id, epoch-day) and compare per-bucket x/y spans against an
    x-only sort — the z-buckets stay narrow in BOTH dimensions, which is
    why a z-ordered table prunes filters on either key (the Delta/
    Iceberg OPTIMIZE ZORDER device as a deterministic aggregate)."""
    from scholarmind_spark.operators.zorder import zorder_locality_report

    e = _events(spark, sf_dir).select(
        "user_id", F.expr("unix_timestamp(ts) div 86400").alias("day")
    )
    return zorder_locality_report(e, "user_id", "day", buckets=16)


def _events_zorder_locality_sql() -> str:
    from scholarmind_spark.operators.zorder import zorder_locality_report_sql

    return zorder_locality_report_sql(
        "events", "user_id", "floor(epoch(ts))::BIGINT // 86400", buckets=16
    )


gate("events_zorder_locality", events_zorder_locality, _events_zorder_locality_sql())


def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (operators/audit.k_anonymity_report): customer
    equivalence classes on (mktsegment, nation, 500-unit balance band),
    banded by re-identification risk at k=5 — the pre-release privacy
    gate next to PII redaction."""
    from scholarmind_spark.operators.audit import k_anonymity_report

    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 500).cast("bigint").alias("acct_band"),
    )
    return k_anonymity_report(
        c, ["c_mktsegment", "c_nationkey", "acct_band"], k=5
    )


def _privacy_k_anonymity_sql() -> str:
    from scholarmind_spark.operators.audit import k_anonymity_report_sql

    qi = [
        "c_mktsegment",
        "c_nationkey",
        "floor(c_acctbal / 500)::BIGINT",
    ]
    return k_anonymity_report_sql("customer", qi, k=5)


gate("privacy_k_anonymity", privacy_k_anonymity, _privacy_k_anonymity_sql())


def dedup_ledger_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup ledger (operators/ledger): fingerprints + df
    counts for batches A and B are FOLDED (never re-shingled), batch C
    is matched against the folded state, and the result is compared to
    the one-shot ``ngram_jaccard_against`` over the raw text — the
    sketch_merge_incremental pattern applied to near-dup state.  One
    row: match counts + digests from both paths, state sizes, and the
    equality flags (the production contract: a continuously-ingesting
    corpus never re-processes standing documents)."""
    from scholarmind_spark.operators.ledger import (
        ledger_append,
        ledger_counts_merge,
        ledger_fingerprints,
        ledger_match,
        ledger_shingle_counts,
    )
    from scholarmind_spark.operators.neardup import minhash_base

    # even-doc_id half-slice: the gate certifies the fold==one-shot
    # CONTRACT (value equality), which a deterministic slice states just
    # as strongly as the full table — and the roundtrip inherently runs
    # the match machinery twice plus four fingerprint passes, so the
    # slice keeps its bench cost in line with the other dedup gates
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    g = F.expr("doc_id div 2") % 3
    A = d.filter(g == 0)
    B = d.filter(g == 1)
    C = d.filter(g == 2)
    # persist(): each batch fingerprint table feeds 2-3 consumers
    # (its counts, the corpus fold, the match / state-size branches) —
    # in production these ARE the parquet ledger, materialized by
    # definition; the persist stands in for that materialization
    fpA, fpB, fpC = (
        ledger_fingerprints(x).persist() for x in (A, B, C)
    )
    # persist(): counts feeds the inc match's hot set AND the ci digest
    counts = ledger_counts_merge(
        ledger_counts_merge(
            ledger_shingle_counts(fpA), ledger_shingle_counts(fpB)
        ),
        ledger_shingle_counts(fpC),
    ).persist()
    corpus_fp = ledger_append(fpA, fpB)
    inc = ledger_match(fpC, corpus_fp, counts, threshold=0.5, max_df=100)
    # the one-shot comparator: fingerprint the WHOLE corpus in one pass
    # (no fold) and match from that state.  ledger_match == the raw-text
    # ngram_jaccard_against is pinned separately by test_ledger.py, so
    # the gate doesn't re-shingle the corpus a third time through the
    # batch operator.
    fp_full = ledger_fingerprints(d).persist()
    # persist(): feeds the direct match's hot set AND the cd digest
    counts_direct = ledger_shingle_counts(fp_full).persist()
    direct = ledger_match(
        fp_full.join(
            C.select(F.col("doc_id").alias("id")), "id", "left_semi"
        ),
        fp_full.join(
            C.select(F.col("doc_id").alias("id")), "id", "left_anti"
        ),
        counts_direct,
        threshold=0.5,
        max_df=100,
    )

    def digest(m):
        # order-free bigint digest of the match set: modular hash per
        # row keeps the sum far from int64 overflow
        key = F.concat_ws(
            ":",
            F.col("new_id").cast("string"),
            F.col("corpus_id").cast("string"),
            F.round(F.col("jaccard") * 1e6, 0).cast("bigint").cast("string"),
        )
        return m.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(minhash_base(key) % 100000007), F.lit(0)
            ).alias("dig"),
        )

    di = digest(inc).select(
        F.col("n").alias("n_inc"), F.col("dig").alias("dig_inc")
    )
    dd = digest(direct).select(
        F.col("n").alias("n_direct"), F.col("dig").alias("dig_direct")
    )
    # state equality: folded counts vs one-shot counts over full corpus
    full_counts = counts_direct
    cdig = F.coalesce(
        F.sum((F.col("sh") % 1000003) * F.col("df_count")), F.lit(0)
    )
    ci = counts.agg(
        F.count(F.lit(1)).alias("n_state_shingles"),
        cdig.alias("cdig_inc"),
    )
    cd = full_counts.agg(cdig.alias("cdig_direct"))
    nd = ledger_append(corpus_fp, fpC).agg(
        F.count(F.lit(1)).alias("n_state_docs")
    )
    from scholarmind_spark.util import attach_caches

    out = (
        di.crossJoin(dd)
        .crossJoin(ci)
        .crossJoin(cd)
        .crossJoin(nd)
        .select(
            F.col("n_inc").cast("bigint").alias("n_matches_inc"),
            F.col("n_direct").cast("bigint").alias("n_matches_direct"),
            (F.col("dig_inc") == F.col("dig_direct"))
            .cast("int")
            .alias("matches_equal"),
            F.col("n_state_docs").cast("bigint").alias("n_state_docs"),
            F.col("n_state_shingles").cast("bigint").alias("n_state_shingles"),
            (F.col("cdig_inc") == F.col("cdig_direct"))
            .cast("int")
            .alias("counts_equal"),
        )
    )
    inner = [
        *getattr(inc, "_sm_caches", ()),
        *getattr(direct, "_sm_caches", ()),
    ]
    return attach_caches(
        out, [fpA, fpB, fpC, fp_full, counts, counts_direct, *inner]
    )


def _dedup_ledger_roundtrip_sql() -> str:
    from scholarmind_spark.operators.ledger import (
        ledger_append_sql,
        ledger_counts_merge_sql,
        ledger_fingerprints_sql,
        ledger_match_sql,
        ledger_shingle_counts_sql,
    )
    from scholarmind_spark.operators.neardup import minhash_base_sql

    half = "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0"

    def batch(i: int) -> str:
        return f"{half} AND (doc_id // 2) % 3 = {i}"

    fA, fB, fC = (ledger_fingerprints_sql(batch(i)) for i in range(3))
    counts = ledger_counts_merge_sql(
        ledger_counts_merge_sql(
            ledger_shingle_counts_sql(fA), ledger_shingle_counts_sql(fB)
        ),
        ledger_shingle_counts_sql(fC),
    )
    corpus_fp = ledger_append_sql(fA, fB)
    inc = ledger_match_sql(fC, counts=counts, corpus_fp=corpus_fp,
                           threshold=0.5, max_df=100)
    fp_full = ledger_fingerprints_sql(half)
    full_counts = ledger_shingle_counts_sql(fp_full)
    direct = ledger_match_sql(
        f"(SELECT * FROM {fp_full} WHERE (id // 2) % 3 = 2)",
        f"(SELECT * FROM {fp_full} WHERE (id // 2) % 3 <> 2)",
        counts=full_counts,
        threshold=0.5,
        max_df=100,
    )
    key = (
        "(new_id::VARCHAR || ':' || corpus_id::VARCHAR || ':' || "
        "round(jaccard * 1e6, 0)::BIGINT::VARCHAR)"
    )
    h = minhash_base_sql(key)
    return f"""
WITH di AS (
  SELECT count(*)::BIGINT AS n_inc,
         coalesce(sum({h} % 100000007), 0)::BIGINT AS dig_inc
  FROM {inc}
),
dd AS (
  SELECT count(*)::BIGINT AS n_direct,
         coalesce(sum({h} % 100000007), 0)::BIGINT AS dig_direct
  FROM {direct}
),
ci AS (
  SELECT count(*)::BIGINT AS n_state_shingles,
         coalesce(sum((sh % 1000003) * df_count), 0)::BIGINT AS cdig_inc
  FROM {counts}
),
cd AS (
  SELECT coalesce(sum((sh % 1000003) * df_count), 0)::BIGINT AS cdig_direct
  FROM {full_counts}
),
nd AS (
  SELECT count(*)::BIGINT AS n_state_docs FROM {ledger_append_sql(corpus_fp, fC)}
)
SELECT n_inc AS n_matches_inc,
       n_direct AS n_matches_direct,
       (dig_inc = dig_direct)::INT AS matches_equal,
       n_state_docs,
       n_state_shingles,
       (cdig_inc = cdig_direct)::INT AS counts_equal
FROM di, dd, ci, cd, nd
"""


gate("dedup_ledger_roundtrip", dedup_ledger_roundtrip, _dedup_ledger_roundtrip_sql())


def events_hdr_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HDR quantiles (operators/sketchledger hdr_state_* with
    ``keys=["grp"]``): p50/p99 of the event value PER EVENT TYPE — the
    "latency per endpoint" telemetry staple; the quantile window
    partitions on the group key and each group's ranked state is bounded
    by the sketch's bucket count, never its row count."""
    from scholarmind_spark.operators.sketchledger import (
        hdr_state_build,
        hdr_state_quantiles,
    )

    e = _events(spark, sf_dir).select(
        F.col("event_type").alias("grp"), "value"
    )
    sk = hdr_state_build(e, ["grp"], "value")
    return hdr_state_quantiles(sk, ["grp"], (500, 990)).orderBy(
        "grp", "q_permille"
    )


def _events_hdr_by_type_sql() -> str:
    from scholarmind_spark.operators.hdr import (
        hdr_build_by_group_sql,
        hdr_quantiles_by_group_sql,
    )

    sk = hdr_build_by_group_sql(
        "SELECT event_type AS grp, value AS v FROM events"
    )
    return (
        "SELECT * FROM "
        + hdr_quantiles_by_group_sql(sk, (500, 990))
        + " ORDER BY grp, q_permille"
    )


gate("events_hdr_by_type", events_hdr_by_type, _events_hdr_by_type_sql())


def _sketch_ledger_frames(spark: SparkSession, sf_dir: str):
    """Shared prep for the sketch-ledger gates: events keyed by TZ-free
    epoch-day + event_type, split into two deterministic batches (the
    two-ingest-runs device of dedup_ledger_roundtrip)."""
    e = _events(spark, sf_dir)
    keyed = e.select(
        F.expr("unix_timestamp(ts) div 86400").cast("string").alias("day"),
        F.col("event_type").alias("seg"),
        F.col("value").alias("v"),
        F.col("user_id").alias("u"),
        (F.col("event_id") % 2).alias("g"),
    )
    return keyed, keyed.where(F.col("g") == 0), keyed.where(F.col("g") == 1)


_SKETCH_LEDGER_PAIRS_SQL = (
    "SELECT floor(epoch(ts))::BIGINT // 86400 AS day, event_type AS seg,"
    " value AS v, user_id AS u, event_id % 2 AS g FROM events"
)


def sketch_ledger_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-state ledger roundtrip (operators/sketchledger): HDR /
    KMV / Bloom state tables keyed by (day, segment) are built per
    ingest batch and FOLDED (hdr_state_merge / kmv_state_merge /
    bloom_state_merge), then cell-compared against a direct build over
    the union — the dedup_ledger_roundtrip device applied to the
    monitoring-sketch family.  One row: per-family state sizes and
    full-outer mismatch counts (all must be 0 — the folds are exact by
    construction: + for counts, union-rank for minima, bit_or for
    words)."""
    from scholarmind_spark.operators.sketchledger import (
        bloom_state_build,
        bloom_state_merge,
        hdr_state_build,
        hdr_state_merge,
        kmv_state_build,
        kmv_state_merge,
    )

    keys = ["day", "seg"]
    keyed, b1, b2 = _sketch_ledger_frames(spark, sf_dir)
    # persist(): each relation feeds all three family builders (in
    # production the batches are parquet — the persist stands in)
    keyed = keyed.persist()
    b1 = b1.persist()
    b2 = b2.persist()

    def mismatch(a, b, on, val):
        return (
            a.select(*on, F.col(val).alias("va"))
            .join(b.select(*on, F.col(val).alias("vb")), on, "full_outer")
            .where(~F.col("va").eqNullSafe(F.col("vb")))
        )

    h_f = hdr_state_merge(
        hdr_state_build(b1, keys, "v"), hdr_state_build(b2, keys, "v")
    ).persist()  # feeds the mismatch join AND the cell count
    h_d = hdr_state_build(keyed, keys, "v")
    k_f = kmv_state_merge(
        kmv_state_build(b1, keys, "u", 64),
        kmv_state_build(b2, keys, "u", 64),
        64,
    ).persist()
    k_d = kmv_state_build(keyed, keys, "u", 64)
    bl_f = bloom_state_merge(
        bloom_state_build(b1, keys, "u", 32, 4),
        bloom_state_build(b2, keys, "u", 32, 4),
    ).persist()
    bl_d = bloom_state_build(keyed, keys, "u", 32, 4)

    agg = (
        h_f.agg(F.count(F.lit(1)).alias("hdr_cells"))
        .crossJoin(
            mismatch(h_f, h_d, [*keys, "sign", "bucket"], "cnt").agg(
                F.count(F.lit(1)).alias("hdr_mismatch")
            )
        )
        .crossJoin(k_f.agg(F.count(F.lit(1)).alias("kmv_rows")))
        .crossJoin(
            # KMV state has no value column — a row IS (keys, h); a
            # full-outer where either side is absent is a mismatch
            k_f.withColumn("pa", F.lit(1))
            .join(k_d.withColumn("pb", F.lit(1)), [*keys, "h"], "full_outer")
            .where(~F.col("pa").eqNullSafe(F.col("pb")))
            .agg(F.count(F.lit(1)).alias("kmv_mismatch"))
        )
        .crossJoin(bl_f.agg(F.count(F.lit(1)).alias("bloom_words")))
        .crossJoin(
            mismatch(bl_f, bl_d, [*keys, "word"], "bits").agg(
                F.count(F.lit(1)).alias("bloom_mismatch")
            )
        )
    )
    out = agg.select(
        F.col("hdr_cells").cast("bigint"),
        F.col("hdr_mismatch").cast("bigint"),
        F.col("kmv_rows").cast("bigint"),
        F.col("kmv_mismatch").cast("bigint"),
        F.col("bloom_words").cast("bigint"),
        F.col("bloom_mismatch").cast("bigint"),
    )
    from scholarmind_spark.util import attach_caches

    return attach_caches(out, [keyed, b1, b2, h_f, k_f, bl_f])


def _sketch_ledger_roundtrip_sql() -> str:
    from scholarmind_spark.operators.sketchledger import (
        bloom_state_build_sql,
        bloom_state_merge_sql,
        hdr_state_build_sql,
        hdr_state_merge_sql,
        kmv_state_build_sql,
        kmv_state_merge_sql,
    )

    keys = ["day", "seg"]
    pairs = _SKETCH_LEDGER_PAIRS_SQL
    b1 = f"(SELECT * FROM ({pairs}) WHERE g = 0)"
    b2 = f"(SELECT * FROM ({pairs}) WHERE g = 1)"
    h_f = hdr_state_merge_sql(
        hdr_state_build_sql(b1, keys), hdr_state_build_sql(b2, keys), keys
    )
    h_d = hdr_state_build_sql(f"({pairs})", keys)
    ku = "SELECT day, seg, u AS v, g FROM ({})".format(pairs)
    k_f = kmv_state_merge_sql(
        kmv_state_build_sql(f"(SELECT * FROM ({ku}) WHERE g = 0)", keys, 64),
        kmv_state_build_sql(f"(SELECT * FROM ({ku}) WHERE g = 1)", keys, 64),
        keys,
        64,
    )
    k_d = kmv_state_build_sql(f"({ku})", keys, 64)
    bl_f = bloom_state_merge_sql(
        bloom_state_build_sql(f"(SELECT * FROM ({ku}) WHERE g = 0)", keys, 32, 4),
        bloom_state_build_sql(f"(SELECT * FROM ({ku}) WHERE g = 1)", keys, 32, 4),
        keys,
    )
    bl_d = bloom_state_build_sql(f"({ku})", keys, 32, 4)
    return f"""
WITH hc AS (SELECT count(*)::BIGINT AS hdr_cells FROM {h_f}),
hm AS (
  SELECT count(*)::BIGINT AS hdr_mismatch
  FROM {h_f} x FULL JOIN {h_d} y USING (day, seg, sign, bucket)
  WHERE x.cnt IS DISTINCT FROM y.cnt
),
kc AS (SELECT count(*)::BIGINT AS kmv_rows FROM {k_f}),
km AS (
  SELECT count(*)::BIGINT AS kmv_mismatch
  FROM (SELECT *, 1 AS pa FROM {k_f}) x
  FULL JOIN (SELECT *, 1 AS pb FROM {k_d}) y USING (day, seg, h)
  WHERE x.pa IS DISTINCT FROM y.pb
),
bc AS (SELECT count(*)::BIGINT AS bloom_words FROM {bl_f}),
bm AS (
  SELECT count(*)::BIGINT AS bloom_mismatch
  FROM {bl_f} x FULL JOIN {bl_d} y USING (day, seg, word)
  WHERE x.bits IS DISTINCT FROM y.bits
)
SELECT hdr_cells, hdr_mismatch, kmv_rows, kmv_mismatch,
       bloom_words, bloom_mismatch
FROM hc, hm, kc, km, bc, bm
"""


gate("sketch_ledger_roundtrip", sketch_ledger_roundtrip, _sketch_ledger_roundtrip_sql())


def sketch_ledger_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup from sketch state (operators/sketchledger
    hdr_state_rekey): per-day p50/p99 answered by coarsening the
    per-(day, segment) HDR state — fold two batches, re-key day×seg →
    day, quantile — while the oracle builds per-day sketches directly
    from raw events.  Equality holds by additivity of bucket counts:
    the hierarchy (year ← month ← day ← segment) is answerable from
    the finest-grain state alone, the property that makes a sketch
    ledger cheap to keep at 100 TB (store one grain, answer all
    coarser ones)."""
    from scholarmind_spark.operators.sketchledger import (
        hdr_state_build,
        hdr_state_merge,
        hdr_state_quantiles,
        hdr_state_rekey,
    )

    keys = ["day", "seg"]
    _, b1, b2 = _sketch_ledger_frames(spark, sf_dir)
    folded = hdr_state_merge(
        hdr_state_build(b1, keys, "v"), hdr_state_build(b2, keys, "v")
    )
    day_state = hdr_state_rekey(folded, ["day"])
    return hdr_state_quantiles(day_state, ["day"], (500, 990)).orderBy(
        "day", "q_permille"
    )


def _sketch_ledger_rollup_sql() -> str:
    from scholarmind_spark.operators.sketchledger import (
        hdr_state_build_sql,
        hdr_state_quantiles_sql,
    )

    # the oracle builds AT the coarse key directly from raw events —
    # fold + rekey must equal it exactly
    state = hdr_state_build_sql(
        f"SELECT day, v FROM ({_SKETCH_LEDGER_PAIRS_SQL})", ["day"]
    )
    return (
        "SELECT * FROM "
        + hdr_state_quantiles_sql(state, ["day"], (500, 990))
        + " ORDER BY day, q_permille"
    )


gate("sketch_ledger_rollup", sketch_ledger_rollup, _sketch_ledger_rollup_sql())


def sketch_ledger_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count answer from KMV ledger state (operators/
    sketchledger kmv_state_estimate): per-(day, segment) distinct
    users estimated from the FOLDED minima state — exact below k, the
    (k−1)·M/kth estimator above it; the oracle rebuilds the state
    directly from raw events (fold == direct is pinned by
    sketch_ledger_roundtrip, so the estimates must agree cell by
    cell)."""
    from scholarmind_spark.operators.sketchledger import (
        kmv_state_build,
        kmv_state_estimate,
        kmv_state_merge,
    )

    keys = ["day", "seg"]
    _, b1, b2 = _sketch_ledger_frames(spark, sf_dir)
    folded = kmv_state_merge(
        kmv_state_build(b1, keys, "u", 64),
        kmv_state_build(b2, keys, "u", 64),
        64,
    )
    return kmv_state_estimate(folded, 64).orderBy("day", "seg")


def _sketch_ledger_distinct_sql() -> str:
    from scholarmind_spark.operators.sketchledger import (
        kmv_state_build_sql,
        kmv_state_estimate_sql,
    )

    keys = ["day", "seg"]
    ku = f"SELECT day, seg, u AS v FROM ({_SKETCH_LEDGER_PAIRS_SQL})"
    state = kmv_state_build_sql(f"({ku})", keys, 64)
    return (
        "SELECT * FROM "
        + kmv_state_estimate_sql(state, keys, 64)
        + " ORDER BY day, seg"
    )


gate("sketch_ledger_distinct", sketch_ledger_distinct, _sketch_ledger_distinct_sql())


_MEMBERSHIP_PROBES = [str(i) for i in range(8)] + ["no-such-user"]


def sketch_ledger_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-membership answer from Bloom ledger state (operators/
    sketchledger bloom_state_rekey + bloom_state_contains): the daily
    per-(day, segment) filters are folded across days into one filter
    per segment — exact, OR associativity — and probed with a fixed
    user set: "did this segment see this user at any point in the
    period", answered from state only.  Guaranteed 1 for every
    (segment, user) actually ingested; the deterministic md5 bit math
    makes the full answer (false positives included) identical on both
    engines."""
    from scholarmind_spark.operators.sketchledger import (
        bloom_state_build,
        bloom_state_contains,
        bloom_state_merge,
        bloom_state_rekey,
    )

    keys = ["day", "seg"]
    _, b1, b2 = _sketch_ledger_frames(spark, sf_dir)
    state = bloom_state_merge(
        bloom_state_build(b1, keys, "u", 256, 4),
        bloom_state_build(b2, keys, "u", 256, 4),
    )
    period = bloom_state_rekey(state, ["seg"])
    probes = spark.createDataFrame([(p,) for p in _MEMBERSHIP_PROBES], "v string")
    return bloom_state_contains(period, probes, "v", 256, 4).orderBy(
        "seg", "key"
    )


def _sketch_ledger_membership_sql() -> str:
    from scholarmind_spark.operators.sketchledger import (
        bloom_state_build_sql,
        bloom_state_contains_sql,
        bloom_state_rekey_sql,
    )

    keys = ["day", "seg"]
    ku = f"SELECT day, seg, u AS v FROM ({_SKETCH_LEDGER_PAIRS_SQL})"
    period = bloom_state_rekey_sql(
        bloom_state_build_sql(f"({ku})", keys, 256, 4), ["seg"]
    )
    vals = ", ".join(f"('{p}')" for p in _MEMBERSHIP_PROBES)
    probes = f"SELECT v FROM (VALUES {vals}) t(v)"
    return (
        "SELECT * FROM "
        + bloom_state_contains_sql(period, ["seg"], probes, 256, 4)
        + " ORDER BY seg, key"
    )


gate("sketch_ledger_membership", sketch_ledger_membership, _sketch_ledger_membership_sql())


def sketch_ledger_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention/compaction for the sketch-state ledger (operators/
    sketchledger hdr_state_compact, the sketch_state_expire family):
    fold the two ingest batches into day×segment HDR state, then
    compact — days newer than max_day - 6 keep their day grain, older
    days are rekeyed to the 'm'||(day div 30) period label via the
    EXACT hdr_state_rekey fold (sum of bucket counts).  The oracle
    builds the same mixed-grain state DIRECTLY from raw events, so
    equality proves compaction is lossless at the coarse grain:
    nothing dropped, nothing recomputed from raw data, and the
    retained window's drift/quantile answers are untouched.  State
    size becomes O(retained days + periods) per segment over an
    unbounded fold history — the retention story for the 100 TB
    monitoring ledger.  The cutoff is a one-row driver-sized scalar
    (the q22 device)."""
    from scholarmind_spark.operators.sketchledger import (
        hdr_state_build,
        hdr_state_compact,
        hdr_state_merge,
    )

    keys = ["day", "seg"]
    keyed, b1, b2 = _sketch_ledger_frames(spark, sf_dir)
    folded = hdr_state_merge(
        hdr_state_build(b1, keys, "v"), hdr_state_build(b2, keys, "v")
    )
    cutoff = str(keyed.agg(F.max(F.col("day").cast("bigint"))).first()[0] - 6)
    out = hdr_state_compact(folded, "day", cutoff)
    return out.select(
        F.col("day").alias("grain"),
        "seg",
        "sign",
        "bucket",
        F.col("cnt").cast("bigint").alias("cnt"),
    ).orderBy("grain", "seg", "sign", "bucket")


def _sketch_ledger_compact_sql() -> str:
    from scholarmind_spark.operators.sketchledger import hdr_state_build_sql

    pairs = _SKETCH_LEDGER_PAIRS_SQL
    # the oracle builds AT the mixed grain directly from raw events —
    # compact(fold(daily state)) must equal it exactly
    mixed = f"""
(SELECT CASE WHEN day >= (SELECT max(day) - 6 FROM ({pairs}))
             THEN day::VARCHAR
             ELSE 'm' || (day // 30)::VARCHAR END AS grain,
        seg, v
 FROM ({pairs}))"""
    state = hdr_state_build_sql(mixed, ["grain", "seg"])
    return "SELECT * FROM " + state + " ORDER BY grain, seg, sign, bucket"


gate("sketch_ledger_compact", sketch_ledger_compact, _sketch_ledger_compact_sql())


def sketch_ledger_compact_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV twin of sketch_ledger_compact (operators/sketchledger
    kmv_state_compact): fold the two ingest batches into day×segment
    KMV minima state, compact at max_day - 6 — expired days' minima
    collapse to ≤ k per (period, segment) via the exact rank-cap rekey.
    The oracle builds the mixed-grain minima DIRECTLY from raw events;
    equality holds by the merge argument (any hash among the coarse
    key's k minima survived its fine key's cap), so period
    distinct-counts stay answerable from compacted state."""
    from scholarmind_spark.operators.sketchledger import (
        kmv_state_build,
        kmv_state_compact,
        kmv_state_merge,
    )

    keys = ["day", "seg"]
    keyed, b1, b2 = _sketch_ledger_frames(spark, sf_dir)
    folded = kmv_state_merge(
        kmv_state_build(b1, keys, "u", 64),
        kmv_state_build(b2, keys, "u", 64),
        64,
    )
    cutoff = str(keyed.agg(F.max(F.col("day").cast("bigint"))).first()[0] - 6)
    out = kmv_state_compact(folded, "day", cutoff, 64)
    return out.select(
        F.col("day").alias("grain"), "seg", "h"
    ).orderBy("grain", "seg", "h")


def _sketch_ledger_compact_kmv_sql() -> str:
    from scholarmind_spark.operators.sketchledger import kmv_state_build_sql

    pairs = _SKETCH_LEDGER_PAIRS_SQL
    mixed = f"""
(SELECT CASE WHEN day >= (SELECT max(day) - 6 FROM ({pairs}))
             THEN day::VARCHAR
             ELSE 'm' || (day // 30)::VARCHAR END AS grain,
        seg, u AS v
 FROM ({pairs}))"""
    state = kmv_state_build_sql(mixed, ["grain", "seg"], 64)
    return "SELECT * FROM " + state + " ORDER BY grain, seg, h"


gate("sketch_ledger_compact_kmv", sketch_ledger_compact_kmv, _sketch_ledger_compact_kmv_sql())


def sketch_ledger_compact_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom twin of sketch_ledger_compact (operators/sketchledger
    bloom_state_compact): expired days' filters collapse to one filter
    per (period, segment) via the exact bit_or rekey — period
    membership stays answerable from compacted state, and the coarse
    filter equals a direct coarse build by OR associativity (the
    oracle builds the mixed grain directly from raw events)."""
    from scholarmind_spark.operators.sketchledger import (
        bloom_state_build,
        bloom_state_compact,
        bloom_state_merge,
    )

    keys = ["day", "seg"]
    keyed, b1, b2 = _sketch_ledger_frames(spark, sf_dir)
    folded = bloom_state_merge(
        bloom_state_build(b1, keys, "u", 32, 4),
        bloom_state_build(b2, keys, "u", 32, 4),
    )
    cutoff = str(keyed.agg(F.max(F.col("day").cast("bigint"))).first()[0] - 6)
    out = bloom_state_compact(folded, "day", cutoff)
    return out.select(
        F.col("day").alias("grain"), "seg", "word", "bits"
    ).orderBy("grain", "seg", "word")


def _sketch_ledger_compact_bloom_sql() -> str:
    from scholarmind_spark.operators.sketchledger import bloom_state_build_sql

    pairs = _SKETCH_LEDGER_PAIRS_SQL
    mixed = f"""
(SELECT CASE WHEN day >= (SELECT max(day) - 6 FROM ({pairs}))
             THEN day::VARCHAR
             ELSE 'm' || (day // 30)::VARCHAR END AS grain,
        seg, u AS v
 FROM ({pairs}))"""
    state = bloom_state_build_sql(mixed, ["grain", "seg"], 32, 4)
    return "SELECT * FROM " + state + " ORDER BY grain, seg, word"


gate(
    "sketch_ledger_compact_bloom",
    sketch_ledger_compact_bloom,
    _sketch_ledger_compact_bloom_sql(),
)


def dedup_ledger_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom front-gate for the dedup ledger (operators/ledger
    ledger_match bloom_gate= + operators/bloom): the batch's prefix
    rows are pruned by a Bloom filter over the corpus prefix shingles
    BEFORE the candidate join — the 'probably-already-ingested guard'
    bloom.py names as its motivating use.  One row: gated vs ungated
    match counts + digest equality (MUST be equal — Bloom never
    false-negatives, so no candidate is lost), plus the batch prefix
    keep ratio the gate achieved."""
    from scholarmind_spark.operators.bloom import bloom_prune
    from scholarmind_spark.operators.ledger import (
        ledger_append,
        ledger_counts_merge,
        ledger_fingerprints,
        ledger_match,
        ledger_prefix_rows,
        ledger_shingle_counts,
    )
    from scholarmind_spark.operators.neardup import minhash_base
    from scholarmind_spark.operators.sketchledger import bloom_state_build
    from scholarmind_spark.util import attach_caches

    M_W, K_H = 1024, 4
    # quarter slice split in thirds: the gate pins an EQUALITY contract
    # (gated == ungated), which a deterministic slice states just as
    # strongly — and it runs the match machinery twice by design
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    g = F.expr("doc_id div 4") % 3
    fpA, fpB, fpC = (
        ledger_fingerprints(d.filter(g == i)).persist() for i in range(3)
    )
    counts = ledger_counts_merge(
        ledger_counts_merge(
            ledger_shingle_counts(fpA), ledger_shingle_counts(fpB)
        ),
        ledger_shingle_counts(fpC),
    ).persist()
    corpus_fp = ledger_append(fpA, fpB)
    plain = ledger_match(fpC, corpus_fp, counts, threshold=0.5, max_df=100)
    gated = ledger_match(
        fpC, corpus_fp, counts, threshold=0.5, max_df=100,
        bloom_gate=(M_W, K_H),
    )
    # the keep ratio the front-gate achieved on the batch prefix
    # surface.  DELIBERATE recompute: this rebuilds the corpus prefix +
    # filter a third time rather than having ledger_match leak its
    # internal prune counts into its output contract — the gate is a
    # driver-check-only self-verifier (bench-excluded), so the clean
    # operator API wins over the one-off cost
    pref_b = ledger_prefix_rows(fpC, counts, 0.5, 100).persist()
    pref_c = ledger_prefix_rows(corpus_fp, counts, 0.5, 100)
    kept = bloom_prune(
        pref_b, "sh", bloom_state_build(pref_c, [], "sh", M_W, K_H), M_W, K_H
    )

    def digest(m):
        key = F.concat_ws(
            ":",
            F.col("new_id").cast("string"),
            F.col("corpus_id").cast("string"),
            F.round(F.col("jaccard") * 1e6, 0).cast("bigint").cast("string"),
        )
        return m.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(minhash_base(key) % 100000007), F.lit(0)
            ).alias("dig"),
        )

    out = (
        digest(gated)
        .select(F.col("n").alias("n_g"), F.col("dig").alias("dig_g"))
        .crossJoin(
            digest(plain).select(
                F.col("n").alias("n_p"), F.col("dig").alias("dig_p")
            )
        )
        .crossJoin(pref_b.agg(F.count(F.lit(1)).alias("n_pref_batch")))
        .crossJoin(kept.agg(F.count(F.lit(1)).alias("n_pref_kept")))
        .select(
            F.col("n_g").cast("bigint").alias("n_matches_gated"),
            F.col("n_p").cast("bigint").alias("n_matches_plain"),
            (F.col("dig_g") == F.col("dig_p")).cast("int").alias("matches_equal"),
            F.col("n_pref_batch").cast("bigint"),
            F.col("n_pref_kept").cast("bigint"),
            F.round(1000 * F.col("n_pref_kept") / F.col("n_pref_batch"))
            .cast("bigint")
            .alias("keep_permille"),
        )
    )
    inner = [
        *getattr(plain, "_sm_caches", ()),
        *getattr(gated, "_sm_caches", ()),
    ]
    return attach_caches(out, [fpA, fpB, fpC, counts, pref_b, *inner])


def _dedup_ledger_bloom_sql() -> str:
    from scholarmind_spark.operators.bloom import bloom_build_sql, bloom_prune_sql
    from scholarmind_spark.operators.ledger import (
        ledger_append_sql,
        ledger_counts_merge_sql,
        ledger_fingerprints_sql,
        ledger_match_sql,
        ledger_prefix_rows_sql,
        ledger_shingle_counts_sql,
    )
    from scholarmind_spark.operators.neardup import minhash_base_sql

    M_W, K_H = 1024, 4
    quarter = "SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0"

    def batch(i: int) -> str:
        return f"{quarter} AND (doc_id // 4) % 3 = {i}"

    fA, fB, fC = (ledger_fingerprints_sql(batch(i)) for i in range(3))
    counts = ledger_counts_merge_sql(
        ledger_counts_merge_sql(
            ledger_shingle_counts_sql(fA), ledger_shingle_counts_sql(fB)
        ),
        ledger_shingle_counts_sql(fC),
    )
    corpus_fp = ledger_append_sql(fA, fB)
    plain = ledger_match_sql(
        fC, corpus_fp=corpus_fp, counts=counts, threshold=0.5, max_df=100
    )
    pref_b = ledger_prefix_rows_sql(fC, counts, 0.5, 100)
    pref_c = ledger_prefix_rows_sql(corpus_fp, counts, 0.5, 100)
    filt = bloom_build_sql(f"SELECT sh AS v FROM {pref_c}", M_W, K_H)
    kept = bloom_prune_sql(f"SELECT * FROM {pref_b}", "sh", filt, M_W, K_H)
    # no digest recompute here: the oracle pins matches_equal as the
    # literal 1 — Spark computes BOTH paths and their real digests, so a
    # gated/plain divergence flips Spark's matches_equal to 0 and the
    # value hash mismatches (the text_bpe_tokens_large device)
    return f"""
WITH pm AS (SELECT count(*)::BIGINT AS n FROM {plain}),
tot AS (SELECT count(*)::BIGINT AS np FROM {pref_b}),
kp AS (SELECT count(*)::BIGINT AS nk FROM ({kept}))
SELECT pm.n AS n_matches_gated,
       pm.n AS n_matches_plain,
       1::INT AS matches_equal,
       np AS n_pref_batch,
       nk AS n_pref_kept,
       round(1000.0 * nk / np)::BIGINT AS keep_permille
FROM pm, tot, kp
"""


gate("dedup_ledger_bloom", dedup_ledger_bloom, _dedup_ledger_bloom_sql())


def sketch_ledger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch ledger's ANSWER path (operators/sketchledger
    hdr_state_drift): per-segment day-over-day p99 drift computed from
    the FOLDED per-(day, segment) HDR state only — no raw events in the
    answering plan; the oracle recomputes from raw events, so the
    state-only answer must equal the from-scratch one (the monitoring
    contract: 'p99 drift vs yesterday' without rescanning the
    corpus)."""
    from scholarmind_spark.operators.sketchledger import (
        hdr_state_build,
        hdr_state_drift,
        hdr_state_merge,
    )

    keys = ["day", "seg"]
    _, b1, b2 = _sketch_ledger_frames(spark, sf_dir)
    folded = hdr_state_merge(
        hdr_state_build(b1, keys, "v"), hdr_state_build(b2, keys, "v")
    )
    return hdr_state_drift(folded, "seg", "day", 990).orderBy("seg", "day")


def _sketch_ledger_drift_sql() -> str:
    from scholarmind_spark.operators.sketchledger import (
        hdr_state_build_sql,
        hdr_state_drift_sql,
    )

    state = hdr_state_build_sql(f"({_SKETCH_LEDGER_PAIRS_SQL})", ["day", "seg"])
    return (
        "SELECT * FROM "
        + hdr_state_drift_sql(state, "seg", "day", 990)
        + " ORDER BY seg, day"
    )


gate("sketch_ledger_drift", sketch_ledger_drift, _sketch_ledger_drift_sql())


def orders_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom runtime join pruning (operators/bloom.bloom_prune): orders
    are pre-filtered by a Bloom filter built over AUTOMOBILE-segment
    custkeys before joining that dim subset — the sideways-information-
    passing pattern (Spark's own runtime bloom filters).  One row: probe
    /kept sizes, pruned-vs-plain join row counts, and the equality flag
    the never-false-negative property guarantees."""
    from scholarmind_spark.operators.bloom import bloom_prune
    from scholarmind_spark.operators.sketchledger import bloom_state_build
    from scholarmind_spark.util import attach_caches

    m_words, k = 256, 4
    c = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "AUTOMOBILE"
    ).select(F.col("c_custkey").alias("ck"))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    sk = bloom_state_build(c, [], "ck", m_words, k).persist()
    # `pruned` has two consumers (n_kept count + the pruned join) but is
    # deliberately NOT persisted: the probe filter is a cheap map-side
    # projection (4 md5s/row, no shuffle), and re-running it twice
    # measured FASTER than materializing the full pruned relation
    # (isolated anchor 2.1 s recomputed vs 3.2 s persisted at sf0.1) —
    # the persist-every-2+-consumer rule applies to shuffle-bearing
    # subtrees, not to stateless filters
    pruned = bloom_prune(o, "o_custkey", sk, m_words, k)
    joined_pruned = pruned.join(c, pruned["o_custkey"] == c["ck"])
    joined_plain = o.join(c, o["o_custkey"] == c["ck"])
    stats = (
        o.agg(F.count(F.lit(1)).alias("n_probe"))
        .crossJoin(F.broadcast(pruned.agg(F.count(F.lit(1)).alias("n_kept"))))
        .crossJoin(
            F.broadcast(
                joined_pruned.agg(F.count(F.lit(1)).alias("n_join_pruned"))
            )
        )
        .crossJoin(
            F.broadcast(
                joined_plain.agg(F.count(F.lit(1)).alias("n_join_plain"))
            )
        )
    )
    out = stats.select(
        F.col("n_probe").cast("bigint"),
        F.col("n_kept").cast("bigint"),
        F.expr("n_kept * 1000 div n_probe").alias("keep_permille"),
        F.col("n_join_pruned").cast("bigint"),
        F.col("n_join_plain").cast("bigint"),
        (F.col("n_join_pruned") == F.col("n_join_plain"))
        .cast("int")
        .alias("join_equal"),
    )
    return attach_caches(out, [sk])


def _orders_bloom_prune_sql() -> str:
    from scholarmind_spark.operators.bloom import (
        bloom_build_sql,
        bloom_prune_sql,
    )

    m_words, k = 256, 4
    members = (
        "SELECT c_custkey::VARCHAR AS v FROM customer"
        " WHERE c_mktsegment = 'AUTOMOBILE'"
    )
    sk = bloom_build_sql(members, m_words, k)
    pruned = bloom_prune_sql(
        "SELECT o_orderkey, o_custkey FROM orders", "o_custkey", sk,
        m_words, k,
    )
    return f"""
WITH dim AS (SELECT c_custkey AS ck FROM customer
             WHERE c_mktsegment = 'AUTOMOBILE'),
pr AS (SELECT * FROM {pruned}),
np AS (SELECT count(*)::BIGINT AS n_probe FROM orders),
nk AS (SELECT count(*)::BIGINT AS n_kept FROM pr),
jp AS (SELECT count(*)::BIGINT AS n_join_pruned
       FROM pr JOIN dim ON pr.o_custkey = dim.ck),
jl AS (SELECT count(*)::BIGINT AS n_join_plain
       FROM orders o JOIN dim ON o.o_custkey = dim.ck)
SELECT n_probe, n_kept,
       (n_kept * 1000 // n_probe)::BIGINT AS keep_permille,
       n_join_pruned, n_join_plain,
       (n_join_pruned = n_join_plain)::INT AS join_equal
FROM np, nk, jp, jl
"""


gate("orders_bloom_prune", orders_bloom_prune, _orders_bloom_prune_sql())


def dedup_ledger_revise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger revision deltas (operators/ledger.ledger_revise): one in
    five odd-half documents is re-ingested with changed text; the old
    fingerprints' counts are SUBTRACTED and the new ones ADDED — no
    corpus recount — and the revised state must equal a from-scratch
    build over the revised corpus ROW-FOR-ROW (full-outer-join mismatch
    counts, not just digests).  One row: corpus/revision sizes and the
    two mismatch counts (both must be 0)."""
    from scholarmind_spark.operators.ledger import (
        ledger_fingerprints,
        ledger_revise,
        ledger_shingle_counts,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    revised_src = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" revised edition copy")).alias("text")
    )
    fp0 = ledger_fingerprints(d).persist()
    c0 = ledger_shingle_counts(fp0)
    rev_fp = ledger_fingerprints(revised_src).persist()
    new_fp, new_counts = ledger_revise(fp0, c0, rev_fp)

    d_after = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" revised edition copy")),
        ).otherwise(F.col("text")).alias("text"),
    )
    fp_direct = ledger_fingerprints(d_after).persist()
    counts_direct = ledger_shingle_counts(fp_direct)

    fp_mismatch = (
        new_fp.alias("a")
        .join(fp_direct.alias("b"), "id", "full")
        .where(
            ~F.col("a.n").eqNullSafe(F.col("b.n"))
            | ~F.col("a.hs").eqNullSafe(F.col("b.hs"))
        )
        .agg(F.count(F.lit(1)).alias("n_mismatch_fp"))
    )
    counts_mismatch = (
        new_counts.alias("a")
        .join(counts_direct.alias("b"), "sh", "full")
        .where(~F.col("a.df_count").eqNullSafe(F.col("b.df_count")))
        .agg(F.count(F.lit(1)).alias("n_mismatch_counts"))
    )
    sizes = new_fp.agg(F.count(F.lit(1)).alias("n_docs_state")).crossJoin(
        rev_fp.agg(F.count(F.lit(1)).alias("n_revised"))
    )
    from scholarmind_spark.util import attach_caches

    out = (
        sizes.crossJoin(F.broadcast(fp_mismatch))
        .crossJoin(F.broadcast(counts_mismatch))
        .select(
            F.col("n_docs_state").cast("bigint"),
            F.col("n_revised").cast("bigint"),
            F.col("n_mismatch_fp").cast("bigint"),
            F.col("n_mismatch_counts").cast("bigint"),
        )
    )
    return attach_caches(out, [fp0, rev_fp, fp_direct])


def _dedup_ledger_revise_sql() -> str:
    from scholarmind_spark.operators.ledger import (
        ledger_fingerprints_sql,
        ledger_revise_sql,
        ledger_shingle_counts_sql,
    )

    half = "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1"
    revised_src = (
        "SELECT doc_id, text || ' revised edition copy' AS text"
        " FROM documents WHERE doc_id % 2 = 1 AND doc_id % 5 = 0"
    )
    after = (
        "SELECT doc_id, CASE WHEN doc_id % 5 = 0"
        " THEN text || ' revised edition copy' ELSE text END AS text"
        " FROM documents WHERE doc_id % 2 = 1"
    )
    fp0 = ledger_fingerprints_sql(half)
    c0 = ledger_shingle_counts_sql(fp0)
    rev_fp = ledger_fingerprints_sql(revised_src)
    new_fp, new_counts = ledger_revise_sql(fp0, c0, rev_fp)
    fp_direct = ledger_fingerprints_sql(after)
    counts_direct = ledger_shingle_counts_sql(fp_direct)
    return f"""
WITH fpm AS (
  SELECT count(*)::BIGINT AS n_mismatch_fp
  FROM {new_fp} a FULL JOIN {fp_direct} b USING (id)
  WHERE a.n IS DISTINCT FROM b.n OR a.hs IS DISTINCT FROM b.hs
),
cm AS (
  SELECT count(*)::BIGINT AS n_mismatch_counts
  FROM {new_counts} a FULL JOIN {counts_direct} b USING (sh)
  WHERE a.df_count IS DISTINCT FROM b.df_count
),
sz AS (
  SELECT (SELECT count(*) FROM {new_fp})::BIGINT AS n_docs_state,
         (SELECT count(*) FROM {rev_fp})::BIGINT AS n_revised
)
SELECT n_docs_state, n_revised, n_mismatch_fp, n_mismatch_counts
FROM sz, fpm, cm
"""


gate("dedup_ledger_revise", dedup_ledger_revise, _dedup_ledger_revise_sql())


def dedup_ledger_retire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger retirement (operators/ledger.ledger_retire): every
    seventh odd-half document is REMOVED outright (takedown / retention
    expiry / erasure) — its fingerprint rows dropped and its shingle
    contributions subtracted, no corpus recount — and the retired state
    must equal a from-scratch build over the SURVIVING corpus
    ROW-FOR-ROW (full-outer-join mismatch counts, not just digests).
    One row: surviving/retired sizes and the two mismatch counts (both
    must be 0)."""
    from scholarmind_spark.operators.ledger import (
        ledger_fingerprints,
        ledger_retire,
        ledger_shingle_counts,
    )
    from scholarmind_spark.util import attach_caches

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    fp0 = ledger_fingerprints(d).persist()
    c0 = ledger_shingle_counts(fp0)
    retired = d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id")
    )
    new_fp, new_counts = ledger_retire(fp0, c0, retired)

    survivors = d.filter(F.col("doc_id") % 7 != 0)
    fp_direct = ledger_fingerprints(survivors).persist()
    counts_direct = ledger_shingle_counts(fp_direct)

    fp_mismatch = (
        new_fp.alias("a")
        .join(fp_direct.alias("b"), "id", "full")
        .where(
            ~F.col("a.n").eqNullSafe(F.col("b.n"))
            | ~F.col("a.hs").eqNullSafe(F.col("b.hs"))
        )
        .agg(F.count(F.lit(1)).alias("n_mismatch_fp"))
    )
    counts_mismatch = (
        new_counts.alias("a")
        .join(counts_direct.alias("b"), "sh", "full")
        .where(~F.col("a.df_count").eqNullSafe(F.col("b.df_count")))
        .agg(F.count(F.lit(1)).alias("n_mismatch_counts"))
    )
    sizes = new_fp.agg(F.count(F.lit(1)).alias("n_docs_state")).crossJoin(
        retired.agg(F.count(F.lit(1)).alias("n_retired"))
    )
    out = (
        sizes.crossJoin(F.broadcast(fp_mismatch))
        .crossJoin(F.broadcast(counts_mismatch))
        .select(
            F.col("n_docs_state").cast("bigint"),
            F.col("n_retired").cast("bigint"),
            F.col("n_mismatch_fp").cast("bigint"),
            F.col("n_mismatch_counts").cast("bigint"),
        )
    )
    return attach_caches(out, [fp0, fp_direct])


def _dedup_ledger_retire_sql() -> str:
    from scholarmind_spark.operators.ledger import (
        ledger_fingerprints_sql,
        ledger_retire_sql,
        ledger_shingle_counts_sql,
    )

    half = "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1"
    survivors = (
        "SELECT doc_id, text FROM documents"
        " WHERE doc_id % 2 = 1 AND doc_id % 7 <> 0"
    )
    retired = (
        "(SELECT doc_id AS id FROM documents"
        " WHERE doc_id % 2 = 1 AND doc_id % 7 = 0)"
    )
    fp0 = ledger_fingerprints_sql(half)
    c0 = ledger_shingle_counts_sql(fp0)
    new_fp, new_counts = ledger_retire_sql(fp0, c0, retired)
    fp_direct = ledger_fingerprints_sql(survivors)
    counts_direct = ledger_shingle_counts_sql(fp_direct)
    return f"""
WITH fpm AS (
  SELECT count(*)::BIGINT AS n_mismatch_fp
  FROM {new_fp} a FULL JOIN {fp_direct} b USING (id)
  WHERE a.n IS DISTINCT FROM b.n OR a.hs IS DISTINCT FROM b.hs
),
cm AS (
  SELECT count(*)::BIGINT AS n_mismatch_counts
  FROM {new_counts} a FULL JOIN {counts_direct} b USING (sh)
  WHERE a.df_count IS DISTINCT FROM b.df_count
),
sz AS (
  SELECT (SELECT count(*) FROM {new_fp})::BIGINT AS n_docs_state,
         (SELECT count(*) FROM {retired})::BIGINT AS n_retired
)
SELECT n_docs_state, n_retired, n_mismatch_fp, n_mismatch_counts
FROM sz, fpm, cm
"""


gate("dedup_ledger_retire", dedup_ledger_retire, _dedup_ledger_retire_sql())


def dedup_ledger_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger time-based retention (operators/ledger.ledger_expire —
    the dedup-ledger twin of sketch_ledger_compact's retention
    discipline, VERDICT r11 ask #6): docs whose synthetic ingest day
    (19000 + doc_id % 10) is older than cutoff 19003 EXPIRE — their
    fingerprint rows drop and their shingle contributions are
    subtracted, no corpus recount — and the expired state must equal a
    from-scratch build over the RETAINED corpus ROW-FOR-ROW
    (full-outer-join mismatch counts).  Docs with a NULL ingest day
    (every 13th) must be RETAINED — retention never deletes what it
    cannot prove expired.  One row: retained/expired sizes and the two
    mismatch counts (both must be 0)."""
    from scholarmind_spark.operators.ledger import (
        ledger_expire,
        ledger_fingerprints,
        ledger_shingle_counts,
    )
    from scholarmind_spark.util import attach_caches

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    day = F.when(
        F.col("doc_id") % 13 != 0, F.lit(19000) + F.col("doc_id") % 10
    )  # every 13th doc: NULL ingest day — must survive expiry
    days = d.select(F.col("doc_id").alias("id"), day.alias("day"))
    fp0 = ledger_fingerprints(d).persist()
    c0 = ledger_shingle_counts(fp0)
    new_fp, new_counts = ledger_expire(fp0, c0, days, cutoff_day=19003)

    retained = d.where(
        (F.col("doc_id") % 13 == 0) | (F.col("doc_id") % 10 >= 3)
    )
    fp_direct = ledger_fingerprints(retained).persist()
    counts_direct = ledger_shingle_counts(fp_direct)

    fp_mismatch = (
        new_fp.alias("a")
        .join(fp_direct.alias("b"), "id", "full")
        .where(
            ~F.col("a.n").eqNullSafe(F.col("b.n"))
            | ~F.col("a.hs").eqNullSafe(F.col("b.hs"))
        )
        .agg(F.count(F.lit(1)).alias("n_mismatch_fp"))
    )
    counts_mismatch = (
        new_counts.alias("a")
        .join(counts_direct.alias("b"), "sh", "full")
        .where(~F.col("a.df_count").eqNullSafe(F.col("b.df_count")))
        .agg(F.count(F.lit(1)).alias("n_mismatch_counts"))
    )
    sizes = new_fp.agg(F.count(F.lit(1)).alias("n_docs_state")).crossJoin(
        days.where(F.col("day") < 19003).agg(
            F.count(F.lit(1)).alias("n_expired")
        )
    )
    out = (
        sizes.crossJoin(F.broadcast(fp_mismatch))
        .crossJoin(F.broadcast(counts_mismatch))
        .select(
            F.col("n_docs_state").cast("bigint"),
            F.col("n_expired").cast("bigint"),
            F.col("n_mismatch_fp").cast("bigint"),
            F.col("n_mismatch_counts").cast("bigint"),
        )
    )
    return attach_caches(out, [fp0, fp_direct])


def _dedup_ledger_expire_sql() -> str:
    from scholarmind_spark.operators.ledger import (
        ledger_expire_sql,
        ledger_fingerprints_sql,
        ledger_shingle_counts_sql,
    )

    half = "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1"
    days = (
        "(SELECT doc_id AS id,"
        " CASE WHEN doc_id % 13 <> 0 THEN 19000 + doc_id % 10 END AS day"
        " FROM documents WHERE doc_id % 2 = 1)"
    )
    retained = (
        "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1"
        " AND (doc_id % 13 = 0 OR doc_id % 10 >= 3)"
    )
    fp0 = ledger_fingerprints_sql(half)
    c0 = ledger_shingle_counts_sql(fp0)
    new_fp, new_counts = ledger_expire_sql(fp0, c0, days, cutoff_day=19003)
    fp_direct = ledger_fingerprints_sql(retained)
    counts_direct = ledger_shingle_counts_sql(fp_direct)
    return f"""
WITH fpm AS (
  SELECT count(*)::BIGINT AS n_mismatch_fp
  FROM {new_fp} a FULL JOIN {fp_direct} b USING (id)
  WHERE a.n IS DISTINCT FROM b.n OR a.hs IS DISTINCT FROM b.hs
),
cm AS (
  SELECT count(*)::BIGINT AS n_mismatch_counts
  FROM {new_counts} a FULL JOIN {counts_direct} b USING (sh)
  WHERE a.df_count IS DISTINCT FROM b.df_count
),
sz AS (
  SELECT (SELECT count(*) FROM {new_fp})::BIGINT AS n_docs_state,
         (SELECT count(*) FROM {days} WHERE day < 19003)::BIGINT AS n_expired
)
SELECT n_docs_state, n_expired, n_mismatch_fp, n_mismatch_counts
FROM sz, fpm, cm
"""


gate("dedup_ledger_expire", dedup_ledger_expire, _dedup_ledger_expire_sql())


def dedup_ledger_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read ledger resolve (operators/ledger.ledger_mor_* —
    the O(batch)-write layout stream_ledger_ingest publishes): a base
    snapshot (seq 0: odd docs except every 11th),
    one delta wave (seq 1: every 11th odd doc inserted, every 9th
    revised with new text, signed count deltas), and a tombstone wave
    (seq 2: every 7th odd doc retired with its contributions negated)
    — resolved with latest-seq-wins + tombstone-drop + counts-sum, the
    result must equal a from-scratch build over the latest SURVIVING
    corpus ROW-FOR-ROW.  One row: state/tombstone sizes and the two
    full-outer mismatch counts (both must be 0)."""
    from scholarmind_spark.operators.ledger import (
        ledger_fingerprints,
        ledger_mor_resolve_counts,
        ledger_mor_resolve_fp,
        ledger_shingle_counts,
    )
    from scholarmind_spark.util import attach_caches

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    base_docs = d.filter(F.col("doc_id") % 11 != 0).select("doc_id", "text")
    w1_docs = (
        d.filter((F.col("doc_id") % 11 == 0) & (F.col("doc_id") % 9 != 0))
        .select("doc_id", "text")
        .unionByName(
            d.filter(F.col("doc_id") % 9 == 0).select(
                "doc_id", F.concat("text", F.lit(" w1")).alias("text")
            )
        )
    )
    retired = d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id")
    )

    fp0 = ledger_fingerprints(base_docs).persist()
    fp1 = ledger_fingerprints(w1_docs).persist()

    def _seq(fp, s):
        return fp.select(
            "id", "n", "hs",
            F.lit(s).cast("int").alias("seq"),
            F.lit(False).alias("tomb"),
        )

    chain01 = _seq(fp0, 0).unionByName(_seq(fp1, 1))
    removed = ledger_mor_resolve_fp(chain01).join(retired, "id", "left_semi")
    tomb = removed.select(
        "id", "n", "hs",
        F.lit(2).cast("int").alias("seq"),
        F.lit(True).alias("tomb"),
    )
    chain_fp = chain01.unionByName(tomb)

    neg1 = ledger_shingle_counts(
        fp0.join(fp1.select("id"), "id", "left_semi")
    ).select("sh", (-F.col("df_count")).alias("df_count"))
    neg2 = ledger_shingle_counts(removed).select(
        "sh", (-F.col("df_count")).alias("df_count")
    )
    chain_counts = (
        ledger_shingle_counts(fp0)
        .unionByName(ledger_shingle_counts(fp1))
        .unionByName(neg1)
        .unionByName(neg2)
    )
    got_fp = ledger_mor_resolve_fp(chain_fp)
    got_counts = ledger_mor_resolve_counts(chain_counts)

    latest = (
        d.filter(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 9 == 0, F.concat("text", F.lit(" w1"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    fp_direct = ledger_fingerprints(latest).persist()
    counts_direct = ledger_shingle_counts(fp_direct)

    fp_mismatch = (
        got_fp.alias("a")
        .join(fp_direct.alias("b"), "id", "full")
        .where(
            ~F.col("a.n").eqNullSafe(F.col("b.n"))
            | ~F.col("a.hs").eqNullSafe(F.col("b.hs"))
        )
        .agg(F.count(F.lit(1)).alias("n_mismatch_fp"))
    )
    counts_mismatch = (
        got_counts.alias("a")
        .join(counts_direct.alias("b"), "sh", "full")
        .where(~F.col("a.df_count").eqNullSafe(F.col("b.df_count")))
        .agg(F.count(F.lit(1)).alias("n_mismatch_counts"))
    )
    sizes = got_fp.agg(F.count(F.lit(1)).alias("n_docs_state")).crossJoin(
        tomb.agg(F.count(F.lit(1)).alias("n_tombstoned"))
    )
    out = (
        sizes.crossJoin(F.broadcast(fp_mismatch))
        .crossJoin(F.broadcast(counts_mismatch))
        .select(
            F.col("n_docs_state").cast("bigint"),
            F.col("n_tombstoned").cast("bigint"),
            F.col("n_mismatch_fp").cast("bigint"),
            F.col("n_mismatch_counts").cast("bigint"),
        )
    )
    return attach_caches(out, [fp0, fp1, fp_direct])


def _dedup_ledger_mor_sql() -> str:
    from scholarmind_spark.operators.ledger import (
        ledger_fingerprints_sql,
        ledger_mor_resolve_counts_sql,
        ledger_mor_resolve_fp_sql,
        ledger_shingle_counts_sql,
    )

    base = (
        "SELECT doc_id, text FROM documents"
        " WHERE doc_id % 2 = 1 AND doc_id % 11 <> 0"
    )
    w1 = (
        "SELECT doc_id, text FROM documents"
        " WHERE doc_id % 2 = 1 AND doc_id % 11 = 0 AND doc_id % 9 <> 0"
        " UNION ALL SELECT doc_id, text || ' w1' FROM documents"
        " WHERE doc_id % 2 = 1 AND doc_id % 9 = 0"
    )
    retired = (
        "(SELECT doc_id AS id FROM documents"
        " WHERE doc_id % 2 = 1 AND doc_id % 7 = 0)"
    )
    latest = (
        "SELECT doc_id, CASE WHEN doc_id % 9 = 0 THEN text || ' w1'"
        " ELSE text END AS text FROM documents"
        " WHERE doc_id % 2 = 1 AND doc_id % 7 <> 0"
    )
    fp0 = ledger_fingerprints_sql(base)
    fp1 = ledger_fingerprints_sql(w1)
    seq0 = f"(SELECT id, n, hs, 0 AS seq, false AS tomb FROM {fp0})"
    seq1 = f"(SELECT id, n, hs, 1 AS seq, false AS tomb FROM {fp1})"
    chain01 = f"(SELECT * FROM {seq0} UNION ALL SELECT * FROM {seq1})"
    removed = (
        f"(SELECT r.* FROM {ledger_mor_resolve_fp_sql(chain01)} r"
        f" SEMI JOIN {retired} t USING (id))"
    )
    tomb = f"(SELECT id, n, hs, 2 AS seq, true AS tomb FROM {removed})"
    chain_fp = f"(SELECT * FROM {chain01} UNION ALL SELECT * FROM {tomb})"
    neg1 = (
        f"(SELECT sh, -df_count AS df_count FROM {ledger_shingle_counts_sql(f'(SELECT a.* FROM {fp0} a SEMI JOIN (SELECT id FROM {fp1}) b USING (id))')})"
    )
    neg2 = (
        f"(SELECT sh, -df_count AS df_count FROM"
        f" {ledger_shingle_counts_sql(removed)})"
    )
    chain_counts = (
        f"(SELECT * FROM {ledger_shingle_counts_sql(fp0)}"
        f" UNION ALL SELECT * FROM {ledger_shingle_counts_sql(fp1)}"
        f" UNION ALL SELECT * FROM {neg1}"
        f" UNION ALL SELECT * FROM {neg2})"
    )
    got_fp = ledger_mor_resolve_fp_sql(chain_fp)
    got_counts = ledger_mor_resolve_counts_sql(chain_counts)
    fp_direct = ledger_fingerprints_sql(latest)
    counts_direct = ledger_shingle_counts_sql(fp_direct)
    return f"""
WITH fpm AS (
  SELECT count(*)::BIGINT AS n_mismatch_fp
  FROM {got_fp} a FULL JOIN {fp_direct} b USING (id)
  WHERE a.n IS DISTINCT FROM b.n OR a.hs IS DISTINCT FROM b.hs
),
cm AS (
  SELECT count(*)::BIGINT AS n_mismatch_counts
  FROM {got_counts} a FULL JOIN {counts_direct} b USING (sh)
  WHERE a.df_count IS DISTINCT FROM b.df_count
),
sz AS (
  SELECT (SELECT count(*) FROM {got_fp})::BIGINT AS n_docs_state,
         (SELECT count(*) FROM {tomb})::BIGINT AS n_tombstoned
)
SELECT n_docs_state, n_tombstoned, n_mismatch_fp, n_mismatch_counts
FROM sz, fpm, cm
"""


gate("dedup_ledger_mor", dedup_ledger_mor, _dedup_ledger_mor_sql())


def events_time_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time-bar downsampling (operators/bars.time_bars): hourly
    open/high/low/close/count/sum bars over the event value stream in
    ONE window pass (single shuffle on the bucket key; the (ts, id)
    tiebreak pins open/close deterministically on timestamp ties)."""
    from scholarmind_spark.operators.bars import time_bars

    e = _events(spark, sf_dir)
    return time_bars(e, "ts", "value", "event_id", width_seconds=3600)


def _events_time_bars_sql() -> str:
    from scholarmind_spark.operators.bars import time_bars_sql

    return (
        "SELECT * FROM "
        + time_bars_sql("events", "ts", "value", "event_id", 3600)
    )


gate("events_time_bars", events_time_bars, _events_time_bars_sql())


def events_kmv_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV distinct sketch (operators/sketchledger kmv_state_*
    with ``keys=["grp"]``): estimated distinct users per event type from
    k=64 minima per group — the grouped form of sketch_distinct_kmv,
    whose exact twin would shuffle every distinct (type, user) pair; the
    sketch bounds the ranked state at k per group."""
    from scholarmind_spark.operators.sketchledger import (
        kmv_state_build,
        kmv_state_estimate,
    )

    e = _events(spark, sf_dir).select(
        F.col("event_type").alias("grp"), "user_id"
    )
    return kmv_state_estimate(kmv_state_build(e, ["grp"], "user_id", k=64), k=64)


def _events_kmv_by_segment_sql() -> str:
    from scholarmind_spark.operators.sketch import kmv_distinct_by_group_sql

    return (
        "SELECT * FROM "
        + kmv_distinct_by_group_sql(
            "SELECT event_type AS grp, user_id::VARCHAR AS v FROM events",
            k=64,
        )
    )


gate("events_kmv_by_segment", events_kmv_by_segment, _events_kmv_by_segment_sql())


def events_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-style log-bucket quantile sketch (operators/hdr): p50/p90/p99
    of the event value from a mergeable fixed-size histogram (≤2⁻⁵
    relative error), with the fold contract exhibited in-row — three
    per-batch sketches folded with hdr_state_merge must EQUAL the direct
    sketch (digest compare), the same incremental-maintenance pattern
    as sketch_merge_incremental.  The sketches are the keyed
    operators/sketchledger ones with ``keys=[]``."""
    from scholarmind_spark.operators.sketchledger import (
        hdr_state_build,
        hdr_state_merge,
        hdr_state_quantiles,
    )

    e = _events(spark, sf_dir).select("event_id", "value")
    direct = hdr_state_build(e, [], "value").persist()
    batches = [
        hdr_state_build(e.where(F.col("event_id") % 3 == i), [], "value")
        for i in range(3)
    ]
    merged = hdr_state_merge(
        hdr_state_merge(batches[0], batches[1]), batches[2]
    )
    dig = F.coalesce(
        F.sum(
            (((F.col("sign") + 1) * 1048576 + F.col("bucket")) % 16777213)
            * F.col("cnt")
        ),
        F.lit(0),
    )
    dm = merged.agg(dig.alias("dig_m"))
    dd = direct.agg(dig.alias("dig_d"))
    q = hdr_state_quantiles(direct, [], (500, 900, 990))
    from scholarmind_spark.util import attach_caches

    out = (
        q.crossJoin(F.broadcast(dm))
        .crossJoin(F.broadcast(dd))
        .select(
            "q_permille",
            "n_rows",
            "est_milli",
            (F.col("dig_m") == F.col("dig_d")).cast("int").alias("fold_equal"),
        )
        .orderBy("q_permille")
    )
    return attach_caches(out, [direct])


def _events_hdr_quantiles_sql() -> str:
    from scholarmind_spark.operators.hdr import (
        hdr_build_sql,
        hdr_merge_sql,
        hdr_quantiles_sql,
    )

    def batch(i: int) -> str:
        return f"SELECT value AS v FROM events WHERE event_id % 3 = {i}"

    direct = hdr_build_sql("SELECT value AS v FROM events")
    merged = hdr_merge_sql(
        hdr_merge_sql(hdr_build_sql(batch(0)), hdr_build_sql(batch(1))),
        hdr_build_sql(batch(2)),
    )
    dig = (
        "coalesce(sum((((sign + 1) * 1048576 + bucket) % 16777213) * cnt), 0)"
        "::BIGINT"
    )
    return f"""
WITH dm AS (SELECT {dig} AS dig_m FROM {merged}),
dd AS (SELECT {dig} AS dig_d FROM {direct}),
q AS (SELECT * FROM {hdr_quantiles_sql(direct, (500, 900, 990))})
SELECT q_permille, n_rows, est_milli,
       (dig_m = dig_d)::INT AS fold_equal
FROM q, dm, dd
ORDER BY q_permille
"""


gate("events_hdr_quantiles", events_hdr_quantiles, _events_hdr_quantiles_sql())


def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership filter (operators/bloom): build over the
    custkeys that placed orders, fold three per-batch filters (OR) and
    digest-compare against the direct build, then probe every customer
    key PLUS a disjoint synthetic-absent set (custkey + 10⁹).  One row:
    the no-false-negative guarantee exhibited (every true member
    reports contained) and the measured false-positive count/rate on
    the absent side — the production pre-filter contract."""
    from scholarmind_spark.operators.bloom import bloom_contains
    from scholarmind_spark.operators.sketchledger import (
        bloom_state_build,
        bloom_state_merge,
    )
    from scholarmind_spark.util import attach_caches

    m_words, k = 512, 4
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("v"), "o_orderkey"
    )
    direct = bloom_state_build(o, [], "v", m_words, k).persist()
    batches = [
        bloom_state_build(
            o.where(F.col("o_orderkey") % 3 == i), [], "v", m_words, k
        )
        for i in range(3)
    ]
    merged = bloom_state_merge(
        bloom_state_merge(batches[0], batches[1]), batches[2]
    )
    dig = F.coalesce(
        F.sum((F.col("word") + 1) * (F.col("bits") % 1000003)), F.lit(0)
    )
    dm = merged.agg(dig.alias("dig_m"))
    dd = direct.agg(dig.alias("dig_d"))

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("ck")
    )
    probes = c.select(F.col("ck").cast("string").alias("v")).unionByName(
        c.select((F.col("ck") + 1_000_000_000).cast("string").alias("v"))
    )
    hits = bloom_contains(direct, probes, "v", m_words, k)
    # ground truth by an ACTUAL membership join against the build set —
    # classifying by key magnitude would silently mislabel a customer
    # who never placed an order (the r8 fixture note says there are
    # none, but the gate must not depend on that)
    members = o.select(F.col("v").alias("key")).distinct()
    labeled = hits.join(
        members.withColumn("is_member", F.lit(1)), "key", "left"
    ).withColumn("is_member", F.coalesce(F.col("is_member"), F.lit(0)))
    agg = labeled.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(
            F.when((F.col("is_member") == 1) & (F.col("contained") == 1), 1)
            .otherwise(0)
        ).alias("present_reported"),
        F.sum(F.col("is_member")).alias("n_true_members"),
        F.sum(
            F.when((F.col("is_member") == 0) & (F.col("contained") == 1), 1)
            .otherwise(0)
        ).alias("n_false_pos"),
        F.sum(
            F.when(F.col("is_member") == 0, 1).otherwise(0)
        ).alias("n_absent"),
    )
    out = (
        agg.crossJoin(F.broadcast(dm))
        .crossJoin(F.broadcast(dd))
        .select(
            F.col("n_probes").cast("bigint").alias("n_probes"),
            F.col("n_true_members").cast("bigint").alias("n_true_members"),
            F.col("present_reported").cast("bigint").alias("present_reported"),
            (F.col("present_reported") == F.col("n_true_members"))
            .cast("int")
            .alias("no_false_negatives"),
            F.col("n_false_pos").cast("bigint").alias("n_false_pos"),
            F.expr("n_false_pos * 1000000 div n_absent").alias("fpr_micro"),
            (F.col("dig_m") == F.col("dig_d")).cast("int").alias("fold_equal"),
        )
    )
    return attach_caches(out, [direct])


def _sketch_bloom_membership_sql() -> str:
    from scholarmind_spark.operators.bloom import (
        bloom_build_sql,
        bloom_contains_sql,
        bloom_merge_sql,
    )

    m_words, k = 512, 4

    def batch(i: int) -> str:
        return (
            "SELECT o_custkey::VARCHAR AS v FROM orders"
            f" WHERE o_orderkey % 3 = {i}"
        )

    members = "SELECT o_custkey::VARCHAR AS v FROM orders"
    direct = bloom_build_sql(members, m_words, k)
    merged = bloom_merge_sql(
        bloom_merge_sql(
            bloom_build_sql(batch(0), m_words, k),
            bloom_build_sql(batch(1), m_words, k),
        ),
        bloom_build_sql(batch(2), m_words, k),
    )
    probes = (
        "SELECT c_custkey::VARCHAR AS v FROM customer "
        "UNION ALL SELECT (c_custkey + 1000000000)::VARCHAR FROM customer"
    )
    contains = bloom_contains_sql(direct, probes, m_words, k)
    dig = "coalesce(sum((word + 1) * (bits % 1000003)), 0)::BIGINT"
    return f"""
WITH dm AS (SELECT {dig} AS dig_m FROM {merged}),
dd AS (SELECT {dig} AS dig_d FROM {direct}),
hits AS (SELECT * FROM {contains}),
labeled AS (
  SELECT h.key, h.contained,
         CASE WHEN m.key IS NULL THEN 0 ELSE 1 END AS is_member
  FROM hits h
  LEFT JOIN (SELECT DISTINCT v AS key FROM ({members})) m ON m.key = h.key
),
agg AS (
  SELECT count(*)::BIGINT AS n_probes,
         sum(is_member)::BIGINT AS n_true_members,
         sum(CASE WHEN is_member = 1 AND contained = 1
                  THEN 1 ELSE 0 END)::BIGINT AS present_reported,
         sum(CASE WHEN is_member = 0 AND contained = 1
                  THEN 1 ELSE 0 END)::BIGINT AS n_false_pos,
         sum(CASE WHEN is_member = 0 THEN 1 ELSE 0 END)::BIGINT AS n_absent
  FROM labeled
)
SELECT n_probes, n_true_members, present_reported,
       (present_reported = n_true_members)::INT AS no_false_negatives,
       n_false_pos,
       (n_false_pos * 1000000 // n_absent)::BIGINT AS fpr_micro,
       (dig_m = dig_d)::INT AS fold_equal
FROM agg, dm, dd
"""


gate("sketch_bloom_membership", sketch_bloom_membership, _sketch_bloom_membership_sql())


def link_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass linkage candidate union (operators/linkage
    link_candidates): PassJoin + sorted-neighborhood candidates unioned,
    deduplicated, verified ONCE, with per-pass provenance flags.  The
    brute-force oracle recomputes both flags independently — PassJoin's
    losslessness makes ``via_passjoin`` provably all-true, and
    ``via_snm`` is pure rank arithmetic — so the gate certifies the
    union logic AND SNM's recall accounting in one artifact."""
    from scholarmind_spark.operators.linkage import link_candidates

    s = _t(spark, sf_dir, "supplier")
    return link_candidates(s, "s_name", max_dist=2, window=5)


def _link_multipass_sql() -> str:
    from scholarmind_spark.operators.linkage import link_candidates_sql

    return link_candidates_sql("supplier", "s_name", max_dist=2, window=5)


gate("link_multipass", link_multipass, _link_multipass_sql())


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real merge-table BPE tokenization (operators/bpe): the pinned
    40-merge table applied as a chained-replace JVM expression — per doc
    the BPE token count, the whitespace count it replaces for budgeting,
    and the first 12 pieces (hash-checking the actual tokenization, not
    just its length).  Production pipelines budget/pack/chunk by
    tokenizer tokens; the regex `bpe_token_count` in text_quality_stats
    was the heuristic tier, this is the trained-artifact tier."""
    from scholarmind_spark.operators.bpe import (
        bpe_token_count as bpe_real_count,
    )
    from scholarmind_spark.operators.bpe import bpe_tokens as bpe_pieces

    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        bpe_real_count(c).alias("n_bpe"),
        token_count(c).cast("bigint").alias("n_ws"),
        F.array_join(F.slice(bpe_pieces(c), 1, 12), " ").alias("head_pieces"),
    )


def _text_bpe_tokens_sql() -> str:
    from scholarmind_spark.operators.bpe import (
        bpe_token_count_sql as bpe_real_count_sql,
    )
    from scholarmind_spark.operators.bpe import bpe_tokens_sql as bpe_pieces_sql

    return f"""
SELECT doc_id,
       {bpe_real_count_sql('text')} AS n_bpe,
       {token_count_sql('text')}::BIGINT AS n_ws,
       array_to_string(({bpe_pieces_sql('text')})[1:12], ' ') AS head_pieces
FROM documents
"""


gate("text_bpe_tokens", text_bpe_tokens, _text_bpe_tokens_sql())


def text_bpe_tokens_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-vocabulary BPE tier (operators/bpe.bpe_tokens_batched):
    the Arrow-batched mapInPandas encoder — broadcast rank dict,
    per-task word memo, reference iterative lowest-rank algorithm —
    run on the pinned table, with row-level TIER EQUALITY against the
    expression-chain encoder asserted in the output (``tiers_equal``
    must be all-1, which the oracle pins as a literal).  This is the
    tier a 50k-merge production vocabulary runs on; the gate proves it
    computes the same tokenization as the codegen tier and the DuckDB
    twin."""
    from scholarmind_spark.operators.bpe import bpe_tokens as bpe_pieces
    from scholarmind_spark.operators.bpe import bpe_tokens_batched

    d = _t(spark, sf_dir, "documents")
    arrow = bpe_tokens_batched(d.select("doc_id", "text"))
    expr_toks = bpe_pieces(F.col("text"))
    at = F.col("bpe_tokens")
    return arrow.select(
        "doc_id",
        F.size(at).cast("bigint").alias("n_bpe"),
        F.array_join(F.slice(at, 1, 12), " ").alias("head_pieces"),
        F.when(at.isNull() & expr_toks.isNull(), 1)
        .when(at == expr_toks, 1)
        .otherwise(0)
        .cast("int")
        .alias("tiers_equal"),
    )


def _text_bpe_tokens_large_sql() -> str:
    from scholarmind_spark.operators.bpe import bpe_tokens_sql as bpe_pieces_sql

    return f"""
SELECT doc_id,
       len(pieces)::BIGINT AS n_bpe,
       array_to_string(pieces[1:12], ' ') AS head_pieces,
       1::INT AS tiers_equal
FROM (SELECT doc_id, {bpe_pieces_sql('text')} AS pieces FROM documents)
"""


gate("text_bpe_tokens_large", text_bpe_tokens_large, _text_bpe_tokens_large_sql())



def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/semdedup): k-means-cell-bounded cosine pairs;
    inside every near-dup relation the member FARTHEST from its centroid
    survives (Abbas et al. 2023's default).  Cells come from the FIXED
    deterministic IVF codebook (the kmeans_assign_cells device) so the
    oracle reproduces them; threshold 0.25 because the synthetic
    embeddings are near-orthogonal (max pairwise cosine ~0.49 — a
    production 0.9 returns nothing, see dedup_embedding_cosine)."""
    from scholarmind_spark.operators.semdedup import semdedup
    from scholarmind_spark.operators.similarity import IVF_CENTROID_IDS
    from scholarmind_spark.util import attach_caches

    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.col("vec_id").cast("long").alias("cid"), F.col("embedding").alias("cvec")
    )
    out = semdedup(e, cents, threshold=0.25)
    return attach_caches(
        out.orderBy("vec_id"), list(getattr(out, "_sm_caches", ()))
    )


def _dedup_semantic_sql() -> str:
    from scholarmind_spark.operators.semdedup import semdedup_sql
    from scholarmind_spark.operators.similarity import IVF_CENTROID_IDS

    return (
        "SELECT * FROM ("
        + semdedup_sql("embeddings", IVF_CENTROID_IDS, threshold=0.25)
        + ") ORDER BY vec_id"
    )


gate("dedup_semantic", dedup_semantic, _dedup_semantic_sql())


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality-classifier scoring (operators/nbquality): a
    multinomial Naive-Bayes filter TRAINED IN-PLAN on Gopher-keep weak
    labels (the CCNet/LLaMA quality-filter stage), scoring every doc with
    its integer-micro-nat log-odds."""
    from scholarmind_spark.operators.nbquality import nb_quality_score
    from scholarmind_spark.util import attach_caches

    out = nb_quality_score(_t(spark, sf_dir, "documents"))
    return attach_caches(
        out.orderBy("doc_id"), list(getattr(out, "_sm_caches", ()))
    )


def _text_quality_classifier_sql() -> str:
    from scholarmind_spark.operators.nbquality import nb_quality_score_sql

    return (
        "SELECT * FROM ("
        + nb_quality_score_sql("documents")
        + ") ORDER BY doc_id"
    )


gate("text_quality_classifier", text_quality_classifier, _text_quality_classifier_sql())


def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity tiers (operators/lm.
    perplexity_buckets): per-language equal-depth LM-score buckets —
    the stage CCNet uses to keep "head" for pretraining."""
    from scholarmind_spark.operators.lm import perplexity_buckets
    from scholarmind_spark.util import attach_caches

    out = perplexity_buckets(_t(spark, sf_dir, "documents"))
    return attach_caches(
        out.orderBy("doc_id"), list(getattr(out, "_sm_caches", ()))
    )


def _text_ccnet_buckets_sql() -> str:
    from scholarmind_spark.operators.lm import perplexity_buckets_sql

    return (
        "SELECT * FROM ("
        + perplexity_buckets_sql("documents")
        + ") ORDER BY doc_id"
    )


gate("text_ccnet_buckets", text_ccnet_buckets, _text_ccnet_buckets_sql())


# The driver checks only the first 50 gates, so both views lead with the
# rotation window (written by tools/rotation.py, whose docstring holds the
# policy); the other gates follow in registration order.
_WINDOW = json.loads(Path(__file__).with_name("rotation_window.json").read_text())["front"]
_ORDER = dict.fromkeys([g for g in _WINDOW if g in _GATES] + list(_GATES))
SPARK_QUERIES: dict[str, QueryFn] = {g: _GATES[g][0] for g in _ORDER}
ORACLE_SQL: dict[str, str] = {g: _GATES[g][1] for g in _ORDER}
