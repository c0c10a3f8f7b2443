"""Incremental dedup ledger: maintained near-dup state across ingest
batches.

Engine extension (the production shape for a continuously-ingesting
corpus): a 100 TB pipeline cannot re-shingle its standing corpus every
time a batch arrives.  It maintains a LEDGER — per-doc fingerprints
plus corpus-level shingle document-frequency counts — that each new
batch (1) joins against to find near-duplicates of standing documents
and (2) folds into, so the next batch sees the grown corpus.  This
module composes the pieces the battery already has (the per-doc
capped-array machinery of ``neardup.ngram_jaccard_against``, the
mergeable-state pattern of ``sketch.kmv_merge``) into that ledger.

State tables (both plain DataFrames, persisted as parquet between
runs by the caller):

- **fingerprints** ``(id, n, hs)`` — per doc, the UNCAPPED sorted
  60-bit shingle hashes and the distinct-shingle count.  Content-pure:
  a doc's row never changes once written, no matter how the corpus
  grows (storing CAPPED arrays would go stale — the hot-shingle set is
  a corpus-level property that shifts with every batch).  One short
  row per doc, the natural persistent artifact the
  ``ngram_jaccard_against`` docstring promises.
- **shingle counts** ``(sh, df_count)`` — per shingle hash, how many
  ledger docs carry it.  ADDITIVE, hence mergeable exactly like a CMS:
  fold per-batch counts with one groupBy-sum
  (:func:`ledger_counts_merge`); two-batch fold EQUALS the one-shot
  count by associativity of +.

Query path (:func:`ledger_match`): derive the hot-shingle set from the
CURRENT counts (> max_df), cap both sides' stored arrays at query
time, then the same lossless AllPairs prefix join + array_intersect
verify as the batch operator — so a fold-then-match is VALUE-IDENTICAL
to re-running ``ngram_jaccard_against`` on the raw concatenated text
(the ``dedup_ledger_roundtrip`` gate pins this equality; its oracle
recomputes both paths in SQL).

Scale: fingerprints are ~one hash per distinct shingle — the corpus
re-expressed at ~8 bytes/shingle; for leaner state swap ``hs`` for a
fixed-width MinHash signature (neardup.minhash_lsh_pairs' signature
builder) at the cost of estimated rather than exact Jaccard — the
ledger CONTRACT (content-pure rows + additive counts + query-time cap)
is unchanged.  The counts table is bounded by distinct shingles and
shrinkable: entries with df_count ≤ some floor can be dropped and
treated as cold (only counts NEAR max_df change capping decisions).
All joins here are equi-joins on the high-entropy 60-bit hash; the hot
list is ≤ corpus_shingles / max_df rows, AQE-broadcast."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scholarmind_spark.operators.neardup import (
    NGRAM_MAX_DF,
    SHINGLE_K,
    _prefix_slice,
    minhash_base,
    minhash_base_sql,
    shingles,
    shingles_sql,
)
from scholarmind_spark.util import attach_caches
from scholarmind_spark.util import spread as _spread


def ledger_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SHINGLE_K,
) -> DataFrame:
    """``id, n, hs`` — per-doc UNCAPPED sorted shingle hashes; the
    content-pure ledger row (never stale, append-only).

    Pure PROJECTION (round 15): ``sort_array(transform(shs, md5-hash))``
    per row is value-identical to the old explode → groupBy(id) →
    ``sort_array(collect_list(...))`` round-trip — the shingle array is
    already per-doc, so regrouping it shuffled every shingle hash of the
    corpus only to reassemble the row it came from.  Zero exchanges now;
    at 100 TB this removes a corpus-sized shuffle from every ledger
    ingest fold.  NULL-hash elements (the NULL-text doc, whose shingle
    array is ``[NULL]``) are dropped inside the array and the then-empty
    doc row is filtered — the same "a NULL-text doc has no ledger row"
    semantics the DuckDB twin's ``unnest(NULL list)`` produces."""
    base = _spread(df).select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), k).alias("shs")
    )
    return base.select(
        "id",
        F.size("shs").alias("n"),
        F.sort_array(
            F.filter(
                F.transform("shs", lambda s: minhash_base(s)),
                lambda h: h.isNotNull(),
            )
        ).alias("hs"),
    ).where(F.size("hs") > 0)


def ledger_shingle_counts(fp: DataFrame) -> DataFrame:
    """``sh, df_count`` from a fingerprint table — the additive half of
    the ledger state."""
    return (
        fp.select(F.explode("hs").alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df_count"))
    )


def ledger_counts_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two shingle-count tables: union + groupBy-sum.  Exact by
    associativity — fold(fold(c1, c2), c3) == counts(full corpus)."""
    return (
        a.unionByName(b)
        .groupBy("sh")
        .agg(F.sum("df_count").alias("df_count"))
    )


def ledger_append(fp_a: DataFrame, fp_b: DataFrame) -> DataFrame:
    """Fold two fingerprint tables.  Doc ids must be disjoint (the
    ingest contract — enforce upstream with
    ``pipeline.assert_unique_record_ids`` or a merge-upsert when
    re-ingesting revised docs; a silent duplicate id would double its
    shingles' df counts)."""
    return fp_a.unionByName(fp_b)


def _cap(fp: DataFrame, hot_arr: DataFrame) -> DataFrame:
    """Query-time df-cap: drop hot shingles from stored arrays via a
    one-row broadcast of the hot set + ``array_except`` — a pure
    projection, no explode/regroup shuffle (the hot list is ≤
    corpus_shingles / max_df entries by construction, so the broadcast
    is tiny).  ``array_except`` dedupes and preserves the sorted input
    order, so capped arrays are sorted-distinct — the ledger treats
    ``hs`` as a SET (intra-doc 60-bit hash collisions, ~2⁻⁶¹ per pair,
    are collapsed; ``n`` already counts pre-hash distinct strings).
    A doc whose every shingle is hot keeps an empty array and can match
    nothing — same outcome as the batch operator's capped build."""
    return fp.crossJoin(F.broadcast(hot_arr)).select(
        "id", "n", F.array_except("hs", "hot_arr").alias("hs")
    )


def _hot_array(counts: DataFrame, max_df: int) -> DataFrame:
    """One row: the sorted hot-shingle array (empty when nothing is
    hot)."""
    return counts.agg(
        F.coalesce(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("df_count") > max_df, F.col("sh"))
                )
            ),
            F.array().cast("array<bigint>"),
        ).alias("hot_arr")
    )


def _alpha(t_pm: int):
    return F.expr(f"({t_pm} * n + 999) div 1000")


def ledger_prefix_rows(
    fp: DataFrame,
    counts: DataFrame,
    threshold: float = 0.6,
    max_df: int = NGRAM_MAX_DF,
) -> DataFrame:
    """``id, sh`` — the capped prefix-filter rows of a fingerprint
    table (the AllPairs candidate-generation surface of
    :func:`ledger_match`, exposed so callers can size or pre-filter
    the probe side — e.g. the Bloom front-gate)."""
    t_pm = int(round(threshold * 1000))
    capped = _cap(fp, _hot_array(counts, max_df))
    return capped.select("id", F.explode(_prefix_slice(_alpha(t_pm))).alias("sh"))


def ledger_match(
    batch_fp: DataFrame,
    corpus_fp: DataFrame,
    counts: DataFrame,
    threshold: float = 0.6,
    max_df: int = NGRAM_MAX_DF,
    bloom_gate: tuple[int, int] | None = None,
) -> DataFrame:
    """``new_id, corpus_id, jaccard`` — every (batch, corpus) pair with
    shingle-Jaccard ≥ threshold, from LEDGER STATE only (no re-shingling
    of raw text).  ``counts`` must already include the batch's own fold
    (cap semantics match the one-shot operator, which counts df over
    new ∪ corpus).  Value-identical to ``ngram_jaccard_against`` on the
    corresponding raw text.

    ``bloom_gate=(m_words, k)`` enables the Bloom FRONT-GATE — the
    "probably-already-ingested guard" bloom.py names as its motivating
    use: a Bloom filter built over the corpus-side prefix shingles
    prunes the batch-side prefix rows BEFORE the candidate join, as a
    pure per-row filter (bloom_prune — zero shuffle on the probe side).
    A mostly-novel batch then ships almost nothing into the join.
    Because Bloom never false-negatives, every surviving candidate pair
    is preserved and the gated output EQUALS the ungated one exactly
    (pinned by the ``dedup_ledger_bloom`` gate); only false-positive
    shingles (~0.6% at the default geometry) ride along and are
    discarded by the verify."""
    t_pm = int(round(threshold * 1000))
    # persist(): the one-row hot array feeds both sides' caps, and each
    # capped side feeds BOTH the prefix explode and the verify join (the
    # same two-consumer shape the batch operator caches)
    hot_arr = _hot_array(counts, max_df).persist()
    nb = _cap(batch_fp, hot_arr).persist()
    nc = _cap(corpus_fp, hot_arr).persist()
    alpha = _alpha(t_pm)
    pref_b = nb.select("id", F.explode(_prefix_slice(alpha)).alias("sh"))
    pref_c = nc.select("id", F.explode(_prefix_slice(alpha)).alias("sh"))
    gate_caches: list[DataFrame] = []
    if bloom_gate is not None:
        from scholarmind_spark.operators.bloom import bloom_prune
        from scholarmind_spark.operators.sketchledger import bloom_state_build

        m_words, kk = bloom_gate
        # persist(): pref_c feeds the filter build AND the candidate join
        pref_c = pref_c.persist()
        gate_caches.append(pref_c)
        filt = bloom_state_build(pref_c, [], "sh", m_words, kk)
        pref_b = bloom_prune(pref_b, "sh", filt, m_words, kk)
    cand = (
        pref_b.alias("l")
        .join(pref_c.alias("r"), "sh")
        .select(F.col("l.id").alias("new_id"), F.col("r.id").alias("corpus_id"))
        .distinct()
    )
    pairs = (
        cand.join(
            nb.select(
                F.col("id").alias("new_id"),
                F.col("n").alias("n_a"),
                F.col("hs").alias("hs_a"),
            ),
            "new_id",
        )
        .join(
            nc.select(
                F.col("id").alias("corpus_id"),
                F.col("n").alias("n_b"),
                F.col("hs").alias("hs_b"),
            ),
            "corpus_id",
        )
        .select(
            "new_id",
            "corpus_id",
            "n_a",
            "n_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("inter"),
        )
    )
    out = (
        pairs.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )
    inner = [
        *getattr(batch_fp, "_sm_caches", ()),
        *getattr(corpus_fp, "_sm_caches", ()),
    ]
    return attach_caches(out, [hot_arr, nb, nc, *gate_caches, *inner])


# ------------------------------------------------------------ SQL twins
#
# Compositional query strings, so a gate oracle can assemble the FULL
# incremental path (per-batch fingerprints → folded counts → state
# match) in DuckDB and compare it against the one-shot operator — the
# sketch_merge_incremental device applied to near-dup state.


def ledger_fingerprints_sql(
    table_query: str, id_col: str = "doc_id", text_col: str = "text",
    k: int = SHINGLE_K,
) -> str:
    h = minhash_base_sql(f"unnest({shingles_sql('text', k)})")
    return f"""
(WITH src AS (SELECT {id_col} AS id, {text_col} AS text FROM ({table_query})),
 e AS (SELECT id, {h} AS sh FROM src),
 sizes AS (SELECT id, count(*) AS n FROM e GROUP BY id)
 SELECT e.id, s.n, list_sort(list(e.sh)) AS hs
 FROM e JOIN sizes s ON s.id = e.id GROUP BY e.id, s.n)"""


def ledger_shingle_counts_sql(fp_query: str) -> str:
    return (
        f"(SELECT sh, count(*)::BIGINT AS df_count FROM "
        f"(SELECT unnest(hs) AS sh FROM {fp_query}) GROUP BY sh)"
    )


def ledger_counts_merge_sql(a: str, b: str) -> str:
    return (
        f"(SELECT sh, sum(df_count)::BIGINT AS df_count FROM "
        f"(SELECT * FROM {a} UNION ALL SELECT * FROM {b}) GROUP BY sh)"
    )


def ledger_append_sql(a: str, b: str) -> str:
    return f"(SELECT * FROM {a} UNION ALL SELECT * FROM {b})"


def ledger_prefix_rows_sql(
    fp_query: str,
    counts: str,
    threshold: float = 0.6,
    max_df: int = NGRAM_MAX_DF,
) -> str:
    """DuckDB twin of :func:`ledger_prefix_rows` — ``id, sh``."""
    t_pm = int(round(threshold * 1000))
    cap = (
        "list_sort(list_distinct(list_filter(hs,"
        " x -> NOT list_contains(hot_arr, x))))"
    )
    return f"""
(WITH hot AS (
   SELECT coalesce(list_sort(list(sh) FILTER (df_count > {max_df})), [])
          AS hot_arr
   FROM {counts}
 ),
 capped AS (SELECT id, n, {cap} AS hs FROM {fp_query}, hot)
 SELECT id, unnest(hs[1 : greatest(0, len(hs) - (({t_pm} * n + 999) // 1000) + 1)]) AS sh
 FROM capped)"""


def ledger_match_sql(
    batch_fp: str,
    corpus_fp: str,
    counts: str,
    threshold: float = 0.6,
    max_df: int = NGRAM_MAX_DF,
) -> str:
    t_pm = int(round(threshold * 1000))
    # list_sort(list_distinct(list_filter(...))) mirrors Spark's
    # array_except exactly: sorted-distinct survivors of the hot-set cut
    cap = (
        "list_sort(list_distinct(list_filter(hs,"
        " x -> NOT list_contains(hot_arr, x))))"
    )
    return f"""
(WITH hot AS (
   SELECT coalesce(list_sort(list(sh) FILTER (df_count > {max_df})), [])
          AS hot_arr
   FROM {counts}
 ),
 nb AS (
   SELECT id, n, {cap} AS hs FROM {batch_fp}, hot
 ),
 nc AS (
   SELECT id, n, {cap} AS hs FROM {corpus_fp}, hot
 ),
 pb AS (
   SELECT id, unnest(hs[1 : greatest(0, len(hs) - (({t_pm} * n + 999) // 1000) + 1)]) AS sh
   FROM nb
 ),
 pc AS (
   SELECT id, unnest(hs[1 : greatest(0, len(hs) - (({t_pm} * n + 999) // 1000) + 1)]) AS sh
   FROM nc
 ),
 cand AS (
   SELECT DISTINCT l.id AS new_id, r.id AS corpus_id
   FROM pb l JOIN pc r ON l.sh = r.sh
 ),
 pairs AS (
   SELECT c.new_id, c.corpus_id, a.n AS n_a, b.n AS n_b,
          len(list_intersect(a.hs, b.hs)) AS inter
   FROM cand c
   JOIN nb a ON a.id = c.new_id
   JOIN nc b ON b.id = c.corpus_id
 )
 SELECT new_id, corpus_id,
        round(inter::DOUBLE / (n_a + n_b - inter), 6) AS jaccard
 FROM pairs
 WHERE round(inter::DOUBLE / (n_a + n_b - inter), 6) >= {threshold})"""


# ---------------------------------------------------------- revision
#
# Real corpora don't only append: crawls re-fetch pages, documents get
# re-extracted with better parsers.  Because the counts table is
# ADDITIVE, a revision is a DELTA: subtract the old fingerprint's
# shingle counts, add the new one's — no corpus-wide recount, the same
# algebra that makes the append fold exact.  Zero-count cells are
# dropped so the revised state is row-identical to a from-scratch
# build over the revised corpus (the dedup_ledger_revise gate pins
# this), not merely equivalent.


def ledger_revise(
    fp_state: DataFrame,
    counts_state: DataFrame,
    revised_fp: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Apply a revision batch: docs in ``revised_fp`` REPLACE same-id
    rows of ``fp_state`` (ids absent from the state are plain inserts).
    Returns ``(new_fp_state, new_counts_state)``; both equal a
    from-scratch build over the revised corpus exactly."""
    ids = revised_fp.select("id")
    replaced = fp_state.join(ids, "id", "left_semi")
    new_fp = fp_state.join(ids, "id", "left_anti").unionByName(revised_fp)
    neg = ledger_shingle_counts(replaced).select(
        "sh", (-F.col("df_count")).alias("df_count")
    )
    pos = ledger_shingle_counts(revised_fp)
    new_counts = ledger_counts_merge(
        counts_state, ledger_counts_merge(neg, pos)
    ).where(F.col("df_count") != 0)
    return new_fp, new_counts


def ledger_revise_sql(
    fp_state: str, counts_state: str, revised_fp: str
) -> tuple[str, str]:
    """DuckDB twin of :func:`ledger_revise` — returns the two state
    queries ``(new_fp_state, new_counts_state)``."""
    new_fp = (
        f"(SELECT s.* FROM {fp_state} s"
        f" ANTI JOIN (SELECT id FROM {revised_fp}) r USING (id)"
        f" UNION ALL SELECT * FROM {revised_fp})"
    )
    replaced = (
        f"(SELECT s.* FROM {fp_state} s"
        f" SEMI JOIN (SELECT id FROM {revised_fp}) r USING (id))"
    )
    neg = (
        f"(SELECT sh, -df_count AS df_count FROM"
        f" {ledger_shingle_counts_sql(replaced)})"
    )
    pos = ledger_shingle_counts_sql(revised_fp)
    new_counts = (
        f"(SELECT * FROM {ledger_counts_merge_sql(counts_state, ledger_counts_merge_sql(neg, pos))}"
        f" WHERE df_count <> 0)"
    )
    return new_fp, new_counts


def ledger_retire(
    fp_state: DataFrame,
    counts_state: DataFrame,
    retired_ids: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Remove docs from the ledger outright (takedown, retention
    expiry, erasure requests): drop their fingerprint rows and
    SUBTRACT their shingle contributions — the :func:`ledger_revise`
    device with an empty insert side, so both returned states equal a
    from-scratch build over the SURVIVING corpus exactly (zero-count
    cells dropped, row-identical).  Ids absent from the state are
    no-ops; ``retired_ids`` needs one column ``id``.  At 100 TB this is
    the difference between honoring a deletion and recounting the
    corpus: the subtraction touches only the retired docs' shingles."""
    ids = retired_ids.select("id").distinct()
    removed = fp_state.join(ids, "id", "left_semi")
    new_fp = fp_state.join(ids, "id", "left_anti")
    neg = ledger_shingle_counts(removed).select(
        "sh", (-F.col("df_count")).alias("df_count")
    )
    new_counts = ledger_counts_merge(counts_state, neg).where(
        F.col("df_count") != 0
    )
    return new_fp, new_counts


def ledger_expire(
    fp_state: DataFrame,
    counts_state: DataFrame,
    ingest_days: DataFrame,
    cutoff_day: int,
) -> tuple[DataFrame, DataFrame]:
    """Time-based retention — the dedup-ledger twin of
    ``sketchledger.sketch_state_expire``: drop every doc whose ingest
    day is OLDER than ``cutoff_day`` and subtract exactly its shingle
    contributions, so both returned states equal a from-scratch build
    over the RETAINED corpus row-for-row.  Pure delegation to
    :func:`ledger_retire` — retention IS retirement with the expired-id
    set derived from a cutoff, and re-deriving the subtraction algebra
    here would just be a second copy to keep exact.

    ``ingest_days`` is ``(id, day)`` with ``day`` a bigint epoch-day —
    the caller's ingest metadata (the fingerprint table stays
    content-pure; a doc's ROW never changes, so its ingest time lives
    beside the state, not in it).  Conservative on the unknowable: a
    NULL day, or an fp-state doc with no ``ingest_days`` row at all,
    is RETAINED — retention must never delete a doc it cannot prove
    expired.  Expiry of ids absent from the state is a no-op (retire's
    own contract).  At 100 TB the cost is the expired docs' shingle
    scan plus one groupBy-sum — never a corpus recount."""
    expired = ingest_days.where(F.col("day") < F.lit(cutoff_day)).select("id")
    return ledger_retire(fp_state, counts_state, expired)


def ledger_expire_sql(
    fp_state: str, counts_state: str, ingest_days: str, cutoff_day: int
) -> tuple[str, str]:
    """DuckDB twin of :func:`ledger_expire` — returns the two state
    queries ``(new_fp_state, new_counts_state)``; ``ingest_days``
    yields ``(id, day)``."""
    expired = f"(SELECT id FROM {ingest_days} WHERE day < {cutoff_day})"
    return ledger_retire_sql(fp_state, counts_state, expired)


# ------------------------------------------------------- merge-on-read
#
# The copy-on-write folds above REWRITE the whole fp table per version
# — measured at sf0.1 the rewrite term is ~4 µs/doc (round-12
# probe), which is fine to 100k docs and the dominant cost at 100 TB.
# The scale path is the merge-on-read shape every transactional table
# format converges on: the state is a BASE snapshot plus a stack of
# small DELTA files; a fold writes only its delta (O(batch), never
# O(corpus)); readers RESOLVE base+deltas (latest sequence number per
# doc wins, tombstones delete, counts sum); compaction folds the stack
# into a new base every K folds, amortizing the O(state) write over K
# ingests.  The resolvers below are the pure-DataFrame algebra of that
# read path — the streaming folds (streaming/pipeline.py) own the
# file/manifest layout.
#
# Delta row conventions:
# - fp delta: ``(id, n, hs, seq, tomb)`` — an upsert carries the new
#   fingerprint and tomb=false; a tombstone (retirement) carries
#   n NULL / hs NULL / tomb=true.  ``seq`` is the fold's version
#   number: strictly monotone, so latest-wins is well-defined.
# - counts delta: ``(sh, df_count)`` with SIGNED df_count — the
#   revise/retire subtraction algebra unchanged, just not yet summed.


def mor_resolve(chain: DataFrame) -> DataFrame:
    """Resolve a merge-on-read base+delta chain keyed by ``id``: the
    HIGHEST-seq row per id wins (base rows carry their snapshot's seq,
    deltas their fold's; seq is unique per version, so the pick is
    deterministic), then tombstoned ids drop — a retired id's tombstone
    wins the seq race and the id vanishes, a later re-ingest outranks
    the tombstone.  Returns the payload columns (all but seq, tomb).
    One window pass over the chain — the read-side price of writing
    O(batch) folds.  Backs the ledger fp chain and the vector-index
    enc chain alike."""
    w = Window.partitionBy("id").orderBy(F.desc("seq"))
    return (
        chain.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & ~F.col("tomb"))
        .drop("__rn", "seq", "tomb")
    )


def ledger_mor_resolve_fp(chain: DataFrame) -> DataFrame:
    """Resolve an fp base+delta chain ``(id, n, hs, seq, tomb)`` to the
    current fingerprint table ``(id, n, hs)`` (:func:`mor_resolve`)."""
    return mor_resolve(chain).select("id", "n", "hs")


def ledger_mor_resolve_counts(chain: DataFrame) -> DataFrame:
    """Resolve a counts base+delta chain: groupBy-sum of the signed
    contributions, zero rows dropped — exact by the same additivity
    that makes :func:`ledger_counts_merge` exact."""
    return (
        chain.groupBy("sh")
        .agg(F.sum("df_count").alias("df_count"))
        .where(F.col("df_count") != 0)
    )


def ledger_mor_resolve_fp_sql(chain: str) -> str:
    """DuckDB twin of :func:`ledger_mor_resolve_fp`; ``chain`` yields
    ``(id, n, hs, seq, tomb)``."""
    return f"""
(SELECT id, n, hs FROM (
   SELECT id, n, hs, tomb,
          row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
   FROM {chain}
 ) WHERE rn = 1 AND NOT tomb)"""


def ledger_mor_resolve_counts_sql(chain: str) -> str:
    """DuckDB twin of :func:`ledger_mor_resolve_counts`."""
    return (
        f"(SELECT sh, sum(df_count)::BIGINT AS df_count FROM {chain}"
        f" GROUP BY sh HAVING sum(df_count) <> 0)"
    )


def ledger_retire_sql(
    fp_state: str, counts_state: str, retired_ids: str
) -> tuple[str, str]:
    """DuckDB twin of :func:`ledger_retire` — returns the two state
    queries ``(new_fp_state, new_counts_state)``; ``retired_ids``
    yields ``id``."""
    ids = f"(SELECT DISTINCT id FROM {retired_ids})"
    new_fp = f"(SELECT s.* FROM {fp_state} s ANTI JOIN {ids} r USING (id))"
    removed = f"(SELECT s.* FROM {fp_state} s SEMI JOIN {ids} r USING (id))"
    neg = (
        f"(SELECT sh, -df_count AS df_count FROM"
        f" {ledger_shingle_counts_sql(removed)})"
    )
    new_counts = (
        f"(SELECT * FROM {ledger_counts_merge_sql(counts_state, neg)}"
        f" WHERE df_count <> 0)"
    )
    return new_fp, new_counts
