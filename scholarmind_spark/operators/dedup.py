"""Deduplication operators.

``priority_dedup`` is the reference's marquee operator (A1,
``main.py:59-166``): dedup by normalized DOI keeping the highest-priority
source (wos=3 > pubmed=2 > sciencedirect=1, ``main.py:112-115``); rows with
null/empty DOI are never considered duplicates (``main.py:104-151``).

The reference's first-seen-wins scan over a pandas sort is
order/implementation-defined on ties (``main.py:115,117`` — quicksort is not
stable).  The rebuild makes the tiebreak total and documented: within equal
``(doi_norm, source_priority)`` the row with the smallest ``tiebreak``
column (default ``record_id``) wins.

Scale design (100 TB): one shuffle on ``doi_norm``.  Null/empty keys would
form one giant skewed partition if fed to the window naively; instead each
empty-key row gets a unique synthetic key so it forms its own single-row
window partition — one scan, no skew, no second pass / union.

``dedup_exact`` is the training-data-pipeline exact dedup: hash-groupBy on a
canonical content key, deterministic survivor (min id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from scholarmind_spark.functions.doi import doi_norm
from scholarmind_spark.schemas import SOURCE_PRIORITY


def source_priority(source_type: Column) -> Column:
    """wos=3, pubmed=2, sciencedirect=1, else 0 (main.py:112-114)."""
    expr = F.lit(0)
    for name, prio in SOURCE_PRIORITY.items():
        expr = F.when(source_type == name, F.lit(prio)).otherwise(expr)
    return expr


def title_norm(title: Column) -> Column:
    """Conservative title key: lower, collapse whitespace runs, trim —
    the D11 journal-key normalization style applied to titles.  No
    punctuation stripping: the fuzzy pass's edit-distance tolerance
    already absorbs small punctuation/typo deltas.  Note normalization
    alone cannot protect versioned titles ('Part I.' vs 'Part II.' are 1
    edit apart however normalized) — that is the numeral-sequence
    guard's job in :func:`fuzzy_title_dedup`."""
    return F.trim(F.regexp_replace(F.lower(title), "\\s+", " "))


def priority_dedup(
    df: DataFrame,
    key: Column | None = None,
    priority: Column | None = None,
    tiebreak: str = "record_id",
    keep_key: bool = False,
    fuzzy_nodoi: bool = False,
    title_col: str = "title",
    fuzzy_max_dist: int = 2,
) -> DataFrame:
    """Reference A1 as a single window pass.

    Parameters mirror the generalized operator: ``key`` defaults to
    ``doi_norm(doi)``, ``priority`` to the reference source ranking.

    ``fuzzy_nodoi=True`` adds the second pass the reference lacks
    (``main.py:104-151`` never dedups null/empty-DOI records — the #1 gap
    a real bibliometrics user hits, since preprints and ScienceDirect
    citations often carry no DOI): empty-key survivors of the first pass
    are near-dup'd on the normalized ``title_col`` within
    ``fuzzy_max_dist`` edits (:func:`fuzzy_title_dedup`), same
    source-priority survivor rule, same tiebreak."""
    key = doi_norm(F.col("doi")) if key is None else key
    priority = source_priority(F.col("source_type")) if priority is None else priority

    key_is_empty = key.isNull() | (key == "")
    # Unique synthetic key per empty-key row: single-row window partitions
    # instead of one skewed null partition.  \x00 prefix cannot collide with
    # a real normalized DOI (lower/trim never emits NUL).
    eff_key = F.when(
        key_is_empty, F.concat(F.lit("\x00"), F.col(tiebreak).cast(StringType()))
    ).otherwise(key)

    w = Window.partitionBy("__dedup_key").orderBy(
        F.desc("__dedup_prio"), F.asc(tiebreak)
    )
    out = (
        df.withColumn("__dedup_key", eff_key)
        .withColumn("__dedup_prio", priority)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    drop = ["__dedup_prio", "__rn"] + ([] if keep_key else ["__dedup_key"])
    if keep_key:
        out = out.withColumn(
            "doi_norm",
            F.when(F.col("__dedup_key").startswith("\x00"), F.lit("")).otherwise(
                F.col("__dedup_key")
            ),
        )
        drop.append("__dedup_key")
    out = out.drop(*drop)
    if fuzzy_nodoi:
        from scholarmind_spark.util import attach_caches

        # The fuzzy pass reads the first-pass survivors TWICE — once
        # projected to (tiebreak, title, priority) for the eligibility/
        # dominance side, once full-width for the final anti-join.
        # Uncached, each read re-runs the A1 window over the source scan
        # (the 15-scan/31-exchange plan the round-8 audit flagged).
        # persist() (MEMORY_AND_DISK, spills) runs the window once.
        out = out.persist()
        fuzzy = fuzzy_title_dedup(
            out,
            title_col=title_col,
            priority=priority,
            tiebreak=tiebreak,
            max_dist=fuzzy_max_dist,
            subset=key_is_empty,
        )
        inner = list(getattr(fuzzy, "_sm_caches", ()))
        out = attach_caches(fuzzy, [out, *inner])
    return out


# Tokens that are pure numbering — arabic digits or roman numerals 1-39
# (the title-numbering range; x{0,3}(ix|iv|v?i{0,3}) is the proper roman
# grammar, so ordinary words spelled only with roman letters — 'did',
# 'mild', 'civil', 'vivid', 'dim', 'mill' — are NOT classified as
# numbering and a typo inside them still merges).  A fuzzy title pair
# whose NUMERAL-TOKEN sequences differ is never a duplicate: 'part i' vs
# 'part ii', 'vol 1' vs 'vol 2', 'study 1' vs 'study 2' are all 1-2
# edits apart yet name DISTINCT works, and an edit-distance threshold
# alone cannot tell them from typos.
NUMERAL_TOKEN_RE = "^([0-9]+|x{0,3}(ix|iv|v?i{1,3})|x{1,3}(ix|iv|v?i{0,3})|v)$"

# Hot-title cap for the fuzzy side: normalized-title keys carried by more
# rows than this are degenerate boilerplate ('editorial', 'introduction',
# '[no title]'), not real paper titles — they are excluded from FUZZY
# matching (exact-equal dedup still applies via the per-key aggregate,
# which is skew-free).  The banding analogue of neardup.BAND_MAX_DF.
TITLE_MAX_DF = 10_000


def _numeral_seq(col: Column) -> Column:
    """Space-joined sequence of the pure-numbering tokens of a title key."""
    return F.array_join(
        F.filter(F.split(col, " "), lambda t: t.rlike(NUMERAL_TOKEN_RE)), " "
    )


def fuzzy_title_dedup(
    df: DataFrame,
    title_col: str = "title",
    priority: Column | None = None,
    tiebreak: str = "record_id",
    max_dist: int = 2,
    subset: Column | None = None,
    max_title_df: int = TITLE_MAX_DF,
) -> DataFrame:
    """Drop every row (within ``subset``) that has a strictly-better
    near-duplicate title; all other rows pass through untouched.

    Semantics (single-pass DOMINANCE, not connected components): row *r*
    is dropped iff some other eligible row *s* exists with

        title_key(s) == title_key(r)
        OR (lev(title_key(s), title_key(r)) <= max_dist
            AND numeral_seq(s) == numeral_seq(r))

    and ``(prio_s, -tiebreak_s) > (prio_r, -tiebreak_r)``.  The numeral
    guard blocks the classic versioned-title false merge ('Part I.' vs
    'Part II.', 'Vol. 1' vs 'Vol. 2' — within 2 edits of each other but
    distinct works); an edit threshold alone cannot distinguish those
    from typos, so fuzzy pairs must agree on their numbering tokens
    (:data:`NUMERAL_TOKEN_RE`).  For the real duplicate shape (the same
    paper from 2-3 sources — every pair inside the cluster matches) this
    equals the CC-survivor rule; on threshold-boundary CHAINS (a~b, b~c,
    a!~c) dominance deliberately keeps both undominated endpoints instead
    of transitively merging records that never matched each other — and
    it stays declarative, no iterative fixpoint.  Null/empty title keys
    are exempt (cannot match anything), mirroring the DOI pass's null
    exemption.

    Scale: dominance never joins rows against rows — each key's BEST
    candidate ``(max prio, then min tiebreak)`` is reduced to ONE row by
    aggregation (map-side partial agg, skew-free even for a degenerate
    key carried by millions of rows), and losers compare against their
    own key's best (exact pass) or a fuzzy-matched key's best (fuzzy
    pass, candidates from the lossless PassJoin segment blocking in
    :func:`~scholarmind_spark.operators.linkage.fuzzy_link`, hot keys
    excluded by ``max_title_df``).  The old shape — an identity-edge
    self-join of rows on the title key — was d² on a hot key, the exact
    skew failure the A1 pass's synthetic null keys exist to prevent.
    """
    from scholarmind_spark.operators.linkage import fuzzy_link
    from scholarmind_spark.util import attach_caches

    priority = source_priority(F.col("source_type")) if priority is None else priority
    in_subset = F.lit(True) if subset is None else subset

    # persist(): five consumers read this projection (maxp, best,
    # dom_exact, keys_ok, dom_fuzzy) — uncached, each would re-scan the
    # input and re-derive the title keys.  It is three narrow columns
    # over the eligible subset only, disk-spillable.
    elig = (
        df.withColumn("__tk", title_norm(F.col(title_col)))
        .withColumn("__fprio", priority)
        .filter(in_subset & F.col("__tk").isNotNull() & (F.col("__tk") != ""))
        .select(F.col(tiebreak).alias("__fid"), "__tk", "__fprio")
        .persist()
    )
    # per-key best: (max prio, then min tiebreak) — two aggregations, both
    # map-side combinable, ONE row per distinct key regardless of key df
    maxp = elig.groupBy("__tk").agg(F.max("__fprio").alias("__bp"))
    # persist(): read by dom_exact AND (as partner_best) dom_fuzzy; one
    # row per distinct key, tiny relative to the input.
    best = (
        elig.join(maxp, "__tk")
        .filter(F.col("__fprio") == F.col("__bp"))
        .groupBy("__tk", "__bp")
        .agg(F.min("__fid").alias("__bid"))
        .persist()
    )
    beats = (F.col("__bp") > F.col("__fprio")) | (
        (F.col("__bp") == F.col("__fprio")) & (F.col("__bid") < F.col("__fid"))
    )
    # exact pass: a row loses to its OWN key's best
    dom_exact = (
        elig.join(best, "__tk").filter(beats).select(F.col("__fid"))
    )
    # fuzzy pass: distinct keys under the hot-title cap, PassJoin pairs,
    # numeral-sequence guard, then losers vs the PARTNER key's best
    keys_ok = (
        elig.groupBy("__tk")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") <= max_title_df)
        .select("__tk")
    )
    linked = fuzzy_link(keys_ok, "__tk", max_dist=max_dist)
    pairs = linked.filter(
        _numeral_seq(F.col("a")) == _numeral_seq(F.col("b"))
    )
    edges = pairs.select(
        F.col("a").alias("__ka"), F.col("b").alias("__kb")
    ).unionByName(
        pairs.select(F.col("b").alias("__ka"), F.col("a").alias("__kb"))
    )
    partner_best = best.select(
        F.col("__tk").alias("__kb"), "__bp", "__bid"
    )
    dom_fuzzy = (
        elig.join(edges, elig["__tk"] == F.col("__ka"))
        .join(partner_best, "__kb")
        .filter(beats)
        .select(F.col("__fid"))
    )
    dominated = (
        dom_exact.unionByName(dom_fuzzy)
        .distinct()
        .select(F.col("__fid").alias(tiebreak))
    )
    out = df.join(dominated, on=tiebreak, how="left_anti")
    inner = list(getattr(linked, "_sm_caches", ()))
    return attach_caches(out, [elig, best, *inner])


def dedup_exact(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Exact-content dedup: group by a canonical content hash, keep the row
    with the minimum id.  Hash-groupBy = one shuffle on the (high-entropy,
    skew-free) digest; survivor choice is a max_by/min_by single agg, not a
    window, so map-side partial aggregation applies."""
    content = F.col(content_col)
    if normalize:
        from scholarmind_spark.operators.textstats import TOKEN_SPLIT_RE

        content = F.lower(F.trim(F.regexp_replace(content, TOKEN_SPLIT_RE, " ")))
    digest = F.md5(content)
    keep_ids = (
        df.select(digest.alias("__h"), F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .drop("__h")
    )
    # keep_ids is |distinct| rows of one long column — broadcastable at
    # moderate scale; at 100 TB Spark picks SMJ on the sorted id, also fine.
    return df.join(keep_ids, on=id_col, how="left_semi")
