"""Near-duplicate detection operators: n-gram Jaccard, MinHash+LSH, SimHash.

Engine extension for training-data pipelines (BASELINE.json north star).

Scale design:
- **n-gram Jaccard** and **containment** are EXACT pair listers built on
  the shingle inverted index with PREFIX-FILTERED candidate generation
  (AllPairs/PPJoin; see the operator docstrings): only each doc's first
  ``m − ⌈t·n⌉ + 1`` hash-sorted shingles enter the candidate join
  (both-sided for Jaccard, inner-sided vs the full index for
  containment), then survivors are verified with the exact intersection
  count through two index joins.  Lossless, and the hot-shingle pair
  blowup is damped by (1−t)² on top of the df-cap; no O(n²) pair
  enumeration.  Shingle width K=5 keeps posting lists short even on
  small vocabularies.
- **MinHash+LSH** computes an S-element signature per doc: ONE md5 per
  shingle → 60-bit int, then the S per-seed hash values are
  ``base XOR C_i`` for fixed constants C_i (the standard xor-family trick
  — S cheap integer ops replace S md5 invocations; md5 itself so the
  DuckDB oracle computes the identical base).  Signatures are banded and
  docs join on (band, band-value) for candidates, then verify with exact
  Jaccard.  Shuffles scale with docs × bands, never pairs.
- **SimHash** hashes each token to 60 bits (15 hex chars of md5 → int,
  the repo's engine-portable device), takes the per-bit majority, and
  banding into 4 fifteen-bit bands yields candidate pairs whose Hamming
  distance is then checked exactly with ``bit_count(xor)`` (hot band
  buckets capped — see :data:`BAND_MAX_DF`).

All computations are built-in expressions; every step has a DuckDB SQL twin
(generated by the ``*_sql`` functions) so the oracle reproduces results
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SHINGLE_K = 5
MINHASH_SEEDS = 8
MINHASH_BANDS = 4  # 2 seeds per band

# 60-bit base hash (15 hex chars of md5 → signed-safe bigint) xor'd with
# fixed golden-ratio-multiple constants yields the per-seed hash family.
MINHASH_MASK = (1 << 60) - 1
XOR_SEEDS = [(i * 0x9E3779B97F4A7C15) & MINHASH_MASK for i in range(64)]
# 60-bit simhash (the repo's 15-hex-char md5 device), 4 bands of 15 bits.
# Band-key space matters at scale: the previous 32-bit/8-bit-band layout
# had at most 4*256 = 1024 distinct band keys CORPUS-WIDE, so the band
# self-join degenerated to ~n²/64 random-collision candidates regardless
# of content.  15-bit bands give 4*2^15 ≈ 131k keys — random collisions
# drop 128×, and the residual hot buckets (true duplicate clusters) are
# handled by BAND_MAX_DF below.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # 15 bits per band; pigeonhole holds for distance ≤ 3

# Hot-band cap for the LSH/simhash band self-joins — the banding analogue
# of NGRAM_MAX_DF: a band bucket of d rows contributes O(d²) candidate
# pairs, and buckets that large are (near-)identical duplicate CLUSTERS
# (a boilerplate page copied 10⁶ times shares every band), which exact
# dedup catches far cheaper.  Buckets above the cap are dropped from
# candidate generation on BOTH engines; far above any bucket size at test
# scale, so small-scale results are bit-identical to uncapped.
BAND_MAX_DF = 10_000

# Default document-frequency cap for the n-gram inverted-index join: a
# shingle shared by d docs contributes O(d²) join pairs, so one boilerplate
# 5-gram shared by 10⁵ docs would alone create ~10¹⁰ pairs in one key.
# Shingles above the cap are dropped BEFORE the self-join; |A|/|B| keep the
# full sizes, so the reported jaccard is a lower bound for pairs that share
# ultra-common shingles — which near-dup pipelines drop from the similarity
# signal anyway (a 100k-document boilerplate line is evidence of a template,
# not of the two docs being copies).  The cap is far above any real shingle
# df at test scale, so small-scale results are bit-identical to uncapped.
NGRAM_MAX_DF = 10_000

from scholarmind_spark.operators.textstats import (  # noqa: E402
    TOKEN_SPLIT_RE as _WS_RE,
)
from scholarmind_spark.util import attach_caches as _attach_caches  # noqa: E402
from scholarmind_spark.util import build_cache as _build_cache  # noqa: E402
from scholarmind_spark.util import spread as _spread  # noqa: E402


def shingles(col: Column, k: int = SHINGLE_K) -> Column:
    """Distinct word-k-gram shingles of a text column.

    The token array is LET-BOUND (single-element ``transform`` whose
    lambda variable carries the evaluated array) before the per-position
    lambda uses it: interpreted higher-order lambdas re-evaluate every
    captured EXPRESSION per element, so a lambda closing over the raw
    ``split()`` re-splits the document once per position — measured 4.4×
    the cost of the whole shingling stage at sf0.1 (5.5 s → 1.2 s for
    the positions+hash projection).  Same strings, same everything —
    only the evaluation count changes."""
    toks = F.split(col, _WS_RE)  # explicit class, see textstats.WS_CLASS

    def grams(tk: Column) -> Column:
        return F.when(
            F.size(tk) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - k),
                lambda i: F.array_join(F.slice(tk, i + 1, k), " "),
            ),
        ).otherwise(F.array(F.array_join(tk, " ")))

    return F.array_distinct(F.element_at(F.transform(F.array(toks), grams), 1))


def shingles_sql(expr: str, k: int = SHINGLE_K) -> str:
    toks = f"string_split_regex({expr}, '{_WS_RE}')"
    grams = (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(generate_series(1, len({toks}) - {k - 1}),"
        f" i -> array_to_string({toks}[i:i+{k - 1}], ' '))"
        f" ELSE [array_to_string({toks}, ' ')] END"
    )
    return f"list_distinct({grams})"


def _capped_doc_arrays(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_df: int,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Shared candidate infrastructure for the exact pair-listing operators:
    one row per doc ``(id, n, hs)`` with the df-capped shingle hashes
    SORTED ascending — the global order the prefix filter slices — cached
    (the standard one-short-row-per-doc materialization point; everything
    downstream, prefix index included, derives from this relation without
    re-shingling the corpus).

    Join/array element = 60-bit hash of the shingle, not the shingle
    string: joins carry 8-byte ints instead of ~40-byte 5-grams (~5×
    shuffle volume) and hash fixed-width keys.  md5-derived so the DuckDB
    oracle computes the identical values; ``n`` is the string-distinct
    size taken BEFORE hashing and BEFORE the cap (documented lower-bound
    semantics).

    Shingles whose document frequency exceeds ``max_df`` are dropped
    before the per-doc re-group (see :data:`NGRAM_MAX_DF`).  The cap is an
    aggregate of the hot shingles (partial map-side counts → tiny over-cap
    list) anti-joined against the exploded relation — by construction the
    hot list has at most ``corpus_shingles / max_df`` entries, so AQE
    broadcasts it and the full relation is never re-shuffled or sorted (a
    ``count() over (partition by sh)`` window would shuffle AND sort every
    shingle row).

    ``extra`` columns of ``df`` (e.g. the incremental variant's ``side``
    tag) ride along unchanged through the explode and the per-doc
    re-group."""
    base = _spread(df).select(
        F.col(id_col).alias("id"), *extra,
        shingles(F.col(text_col), k).alias("shs"),
    )
    exploded = base.select(
        "id", *extra, F.size("shs").alias("n"), F.explode("shs").alias("s")
    ).select("id", *extra, "n", minhash_base(F.col("s")).alias("sh"))
    hot = exploded.groupBy("sh").count().filter(F.col("count") > max_df).select("sh")
    capped = exploded.join(hot, on="sh", how="left_anti")
    return (
        capped.groupBy("id", *extra, "n")
        .agg(F.sort_array(F.collect_list("sh")).alias("hs"))
        .persist()
    )


def _prefix_slice(alpha: Column) -> Column:
    """First ``m − α + 1`` elements of the sorted capped hash array ``hs``
    (empty when the doc cannot reach the required overlap α)."""
    p = F.greatest(F.lit(0), F.size("hs") - alpha + F.lit(1))
    return F.slice(F.col("hs"), F.lit(1), p)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    k: int = SHINGLE_K,
    max_df: int = NGRAM_MAX_DF,
) -> DataFrame:
    """All pairs (a < b) with shingle-Jaccard ≥ threshold — EXACT result.

    Returns columns ``id_a, id_b, jaccard`` (rounded to 6).

    Candidate generation is prefix-filtered (AllPairs / PPJoin — Bayardo,
    Ma & Srikant, WWW'07; Xiao, Wang, Lin & Yu, WWW'08): with shingle
    hashes sorted in one global order, a pair with ``inter ≥ α`` must
    share an element within the first ``m − α + 1`` hashes of BOTH docs.
    ``jaccard ≥ t`` forces ``inter ≥ ⌈t·n⌉`` on each side (inter ≥
    t·union ≥ t·max(n_a, n_b); and with the capped-inter lower-bound
    semantics, t ≤ inter/(n_a+n_b−inter) ≤ n_a/n_b bounds the size ratio,
    so the bound holds for the larger side too), so only the doc-prefixes
    self-join — at t=0.6 that is ~40% of the exploded rows per side, ~16%
    of the per-shingle pair volume, and the saving GROWS with the
    threshold.  Survivors are verified with the exact intersection count
    via two index joins, the same shape as the LSH verify.  α is computed
    in pure integer arithmetic (per-mille) so both engines agree at
    boundaries.

    This replaces the full inverted-index self-join (the round-5 scale
    probe's worst superlinear tail at x10/x1 = 2.1): identical output —
    the filter is lossless, unlike a MinHash prefilter — with the
    quadratic hot-shingle blowup damped by (1−t)² on top of the
    :data:`NGRAM_MAX_DF` cap.  Verification joins the candidate list
    (tiny → AQE-broadcast) back to the per-doc hash ARRAYS and intersects
    with the vectorized ``array_intersect`` — no full-index re-shuffle;
    the only corpus-sized exchanges left are the one per-doc re-group and
    the prefix self-join's two ~(1−t)-sized sides."""
    t_pm = int(round(threshold * 1000))
    # built here, once: the listing plan reads ``docs`` four times (both
    # prefix sides, both verify joins), and an unbuilt cache costs one
    # job per read
    docs = _build_cache(_capped_doc_arrays(df, id_col, text_col, k, max_df))
    # α = ⌈t·n⌉ via integers: (t_pm·n + 999) div 1000
    alpha = F.expr(f"({t_pm} * n + 999) div 1000")
    pref = docs.select("id", F.explode(_prefix_slice(alpha)).alias("sh"))
    cand = (
        pref.alias("l")
        .join(pref.alias("r"), on="sh")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    pairs = (
        cand.join(
            docs.select(
                F.col("id").alias("id_a"), F.col("n").alias("n_a"),
                F.col("hs").alias("hs_a"),
            ),
            "id_a",
        )
        .join(
            docs.select(
                F.col("id").alias("id_b"), F.col("n").alias("n_b"),
                F.col("hs").alias("hs_b"),
            ),
            "id_b",
        )
        .select(
            "id_a", "id_b", "n_a", "n_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("inter"),
        )
    )
    out = (
        pairs.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _attach_caches(out, [docs])


def ngram_jaccard_pairs_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    k: int = SHINGLE_K,
    max_df: int = NGRAM_MAX_DF,
) -> str:
    t_pm = int(round(threshold * 1000))
    sh = shingles_sql(text_col, k)
    return f"""
WITH sh0 AS (
  SELECT {id_col} AS id, {minhash_base_sql("unnest(" + sh + ")")} AS sh FROM {table}
),
sizes AS (
  SELECT id, count(*) AS n_sh FROM sh0 GROUP BY id
),
sh AS (
  SELECT id, sh FROM (
    SELECT id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh0
  ) WHERE df <= {max_df}
),
docs AS (
  SELECT s.id, a.n_sh AS n, list_sort(list(s.sh)) AS hs
  FROM sh s JOIN sizes a ON a.id = s.id GROUP BY s.id, a.n_sh
),
pref AS (
  SELECT id, unnest(hs[1 : greatest(0, len(hs) - (({t_pm} * n + 999) // 1000) + 1)]) AS sh
  FROM docs
),
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM pref l JOIN pref r ON l.sh = r.sh AND l.id < r.id
),
pairs AS (
  SELECT c.id_a, c.id_b, a.n AS n_a, b.n AS n_b,
         len(list_intersect(a.hs, b.hs)) AS inter
  FROM cand c
  JOIN docs a ON a.id = c.id_a
  JOIN docs b ON b.id = c.id_b
)
SELECT id_a, id_b,
       round(inter::DOUBLE / (n_a + n_b - inter), 6) AS jaccard
FROM pairs
WHERE round(inter::DOUBLE / (n_a + n_b - inter), 6) >= {threshold}
"""


def ngram_jaccard_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    k: int = SHINGLE_K,
    max_df: int = NGRAM_MAX_DF,
) -> DataFrame:
    """Incremental near-dup: every (new, corpus) pair with shingle-Jaccard
    ≥ threshold — the operation a production ingest runs per batch, where
    re-listing all corpus-internal pairs (:func:`ngram_jaccard_pairs`)
    would redo work that never changes.  New docs are NOT compared among
    themselves; run the self-pair lister on the batch for that.

    Returns ``new_id, corpus_id, jaccard`` (rounded to 6).

    Same machinery as the self-join variant — per-doc sorted capped hash
    arrays, AllPairs two-sided prefix candidates, ``array_intersect``
    verification — restricted to cross-side pairs.  The df-cap is
    computed over the UNION of both sides (a shingle hot across
    new+corpus is boilerplate regardless of which side carries it), so
    ``jaccard`` here equals the self-join's value on the concatenated
    corpus exactly.  At scale the corpus side's arrays are the natural
    persistent artifact: one short row per doc, re-usable across batches."""
    t_pm = int(round(threshold * 1000))
    tagged = new_df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text"),
        F.lit(1).alias("side"),
    ).unionByName(
        corpus_df.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text"),
            F.lit(0).alias("side"),
        )
    )
    docs = _capped_doc_arrays(tagged, "id", "text", k, max_df, extra=("side",))
    alpha = F.expr(f"({t_pm} * n + 999) div 1000")
    pref = docs.select("id", "side", F.explode(_prefix_slice(alpha)).alias("sh"))
    cand = (
        pref.filter(F.col("side") == 1).alias("l")
        .join(pref.filter(F.col("side") == 0).alias("r"), on="sh")
        .select(F.col("l.id").alias("new_id"), F.col("r.id").alias("corpus_id"))
        .distinct()
    )
    pairs = (
        cand.join(
            docs.filter(F.col("side") == 1).select(
                F.col("id").alias("new_id"), F.col("n").alias("n_a"),
                F.col("hs").alias("hs_a"),
            ),
            "new_id",
        )
        .join(
            docs.filter(F.col("side") == 0).select(
                F.col("id").alias("corpus_id"), F.col("n").alias("n_b"),
                F.col("hs").alias("hs_b"),
            ),
            "corpus_id",
        )
        .select(
            "new_id", "corpus_id", "n_a", "n_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("inter"),
        )
    )
    out = (
        pairs.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )
    return _attach_caches(out, [docs])


def ngram_jaccard_against_sql(
    new_table: str,
    corpus_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    k: int = SHINGLE_K,
    max_df: int = NGRAM_MAX_DF,
) -> str:
    """DuckDB twin of :func:`ngram_jaccard_against`."""
    t_pm = int(round(threshold * 1000))
    return f"""
WITH tagged AS (
  SELECT {id_col} AS id, {text_col} AS text, 1 AS side FROM {new_table}
  UNION ALL
  SELECT {id_col} AS id, {text_col} AS text, 0 AS side FROM {corpus_table}
),
sh0 AS (
  SELECT id, side, {minhash_base_sql("unnest(" + shingles_sql("text", k) + ")")} AS sh
  FROM tagged
),
sizes AS (
  SELECT id, side, count(*) AS n FROM sh0 GROUP BY id, side
),
shf AS (
  SELECT id, side, sh FROM (
    SELECT id, side, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh0
  ) WHERE df <= {max_df}
),
docs AS (
  SELECT f.id, f.side, s.n, list_sort(list(f.sh)) AS hs
  FROM shf f JOIN sizes s ON s.id = f.id AND s.side = f.side
  GROUP BY f.id, f.side, s.n
),
pref AS (
  SELECT id, side,
         unnest(hs[1 : greatest(0, len(hs) - (({t_pm} * n + 999) // 1000) + 1)]) AS sh
  FROM docs
),
cand AS (
  SELECT DISTINCT l.id AS new_id, r.id AS corpus_id
  FROM pref l JOIN pref r ON l.sh = r.sh AND l.side = 1 AND r.side = 0
),
pairs AS (
  SELECT c.new_id, c.corpus_id, a.n AS n_a, b.n AS n_b,
         len(list_intersect(a.hs, b.hs)) AS inter
  FROM cand c
  JOIN docs a ON a.id = c.new_id AND a.side = 1
  JOIN docs b ON b.id = c.corpus_id AND b.side = 0
)
SELECT new_id, corpus_id,
       round(inter::DOUBLE / (n_a + n_b - inter), 6) AS jaccard
FROM pairs
WHERE round(inter::DOUBLE / (n_a + n_b - inter), 6) >= {threshold}
"""


def minhash_base(s: Column) -> Column:
    """60-bit engine-portable shingle hash: 15 hex chars of md5 → bigint."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def minhash_signature(col: Column, seeds: int = MINHASH_SEEDS, k: int = SHINGLE_K) -> Column:
    """Array of S minhash values: min(minhash_base(shingle) XOR C_i) per
    seed — one md5 per shingle, S integer xors.

    NOTE: this inline-expression form nests higher-order functions (the
    shingle expression is re-evaluated per seed, interpreted — no codegen)
    and is kept only as the semantic definition for tests on tiny frames.
    The scale path is :func:`minhash_signatures`, which computes the same
    values through explode + codegen'd md5 + groupBy(min) — 50× faster
    observed at sf0.1 and shuffle-light (map-side partial min)."""
    sh = shingles(col, k)

    def xored(i):  # closure, NOT a default arg: a 2-arg lambda would make
        # F.transform pass the element index as the second parameter
        return lambda s: minhash_base(s).bitwiseXOR(F.lit(XOR_SEEDS[i]))

    return F.array(*[F.array_min(F.transform(sh, xored(i))) for i in range(seeds)])


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seeds: int = MINHASH_SEEDS,
    k: int = SHINGLE_K,
) -> DataFrame:
    """``id, sig`` (array of S bigint minima) via the distributed plan:
    explode shingles once, compute ONE codegen'd md5 base per shingle, take
    per-id minima of ``base XOR C_i`` (map-side combine ⇒ the shuffle
    carries at most one row per (id, partition)).  Identical values to
    :func:`minhash_signature`."""
    df = _spread(df)
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), k)).alias("sh")
    )
    hashed = sh.select("id", minhash_base(F.col("sh")).alias("h"))
    per = hashed.groupBy("id").agg(
        *[
            F.min(F.col("h").bitwiseXOR(F.lit(XOR_SEEDS[i]))).alias(f"m{i}")
            for i in range(seeds)
        ]
    )
    return per.select("id", F.array(*[F.col(f"m{i}") for i in range(seeds)]).alias("sig"))


def minhash_base_sql(s: str) -> str:
    return f"(('0x' || substring(md5({s}), 1, 15))::BIGINT)"


def minhash_signature_sql(expr: str, seeds: int = MINHASH_SEEDS, k: int = SHINGLE_K) -> str:
    sh = shingles_sql(expr, k)
    mins = ", ".join(
        f"list_min(list_transform({sh}, s -> xor({minhash_base_sql('s')}, {XOR_SEEDS[i]})))"
        for i in range(seeds)
    )
    return f"[{mins}]"


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    seeds: int = MINHASH_SEEDS,
    bands: int = MINHASH_BANDS,
    k: int = SHINGLE_K,
    band_max_df: int | None = BAND_MAX_DF,
) -> DataFrame:
    """LSH-banded candidate generation + exact-Jaccard verification.

    Returns ``id_a, id_b, jaccard`` for verified pairs — identical result
    set to :func:`ngram_jaccard_pairs` up to LSH recall; the correctness
    oracle reproduces the same banding, so results match exactly.

    The exploded shingle relation feeds BOTH the signature computation and
    the exact-Jaccard verification, and the per-doc signature relation
    feeds both sides of the band self-join — each is ``persist()``-ed so
    the corpus is shingled exactly once and signed exactly once.  At 100 TB
    the signature relation is one short row per doc (the standard LSH
    materialization point); the shingle cache spills to disk under memory
    pressure (MEMORY_AND_DISK default)."""
    r = seeds // bands
    base = _spread(df).select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), k).alias("shs")
    )
    # The cached relation carries the 60-bit shingle hash, not the string:
    # computed ONCE, it feeds both the signature minima and the verify join
    # (8-byte join keys; see ngram_jaccard_pairs on exactness).
    sh = (
        base.select("id", F.size("shs").alias("n"), F.explode("shs").alias("s"))
        .select("id", "n", minhash_base(F.col("s")).alias("h"))
        .persist()
    )
    sig = (
        sh.groupBy("id")
        .agg(
            *[
                F.min(F.col("h").bitwiseXOR(F.lit(XOR_SEEDS[i]))).alias(f"m{i}")
                for i in range(seeds)
            ]
        )
        .select("id", F.array(*[F.col(f"m{i}") for i in range(seeds)]).alias("sig"))
        .persist()
    )
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[F.col("sig").getItem(b * r + j).cast("string") for j in range(r)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    )
    # hot-band cap (see BAND_MAX_DF): a duplicate CLUSTER of d docs shares
    # every band, putting d rows in one band key → d² join rows in a
    # handful of partitions; buckets past the cap drop from candidate
    # generation (exact dedup owns that case)
    if band_max_df is not None:
        hot = (
            banded.groupBy("band")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > band_max_df)
            .select("band")
        )
        banded = banded.join(hot, "band", "left_anti")
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), on="band")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    # Verify candidates with exact jaccard, computed over the (cached)
    # EXPLODED shingle relation (codegen'd, parallel) rather than per-row
    # array intersections of interpreted higher-order expressions.
    # Shingles are distinct per doc, so |A∪B| = n_a + n_b - inter.  AQE
    # broadcasts the candidate side at runtime when it is small; at 100 TB
    # none of these joins is forced into a broadcast it can't afford.
    inter = (
        sh.withColumnsRenamed({"id": "id_a", "n": "n_a"})
        .join(cand, "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "n": "n_b"}), ["id_b", "h"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _attach_caches(out, [sh, sig])


def minhash_lsh_pairs_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    seeds: int = MINHASH_SEEDS,
    bands: int = MINHASH_BANDS,
    k: int = SHINGLE_K,
    band_max_df: int | None = BAND_MAX_DF,
) -> str:
    r = seeds // bands
    sig = minhash_signature_sql(text_col, seeds, k)
    band_exprs = ", ".join(
        "'{b}|' || ".format(b=b)
        + " || '|' || ".join(f"(sig[{b * r + j + 1}]::VARCHAR)" for j in range(r))
        for b in range(bands)
    )
    sh = shingles_sql(text_col, k)
    # the cap CTE is emitted only when the cap is on, mirroring the Spark
    # side's `if band_max_df is not None` — interpolating None would emit
    # `HAVING count(*) > None`, invalid SQL
    if band_max_df is not None:
        banded = f"""banded AS (  -- hot-band cap, mirroring the Spark side's BAND_MAX_DF
  SELECT * FROM banded0
  WHERE band NOT IN (SELECT band FROM banded0
                     GROUP BY band HAVING count(*) > {band_max_df})
)"""
    else:
        banded = "banded AS (SELECT * FROM banded0)"
    return f"""
WITH sig AS (
  SELECT {id_col} AS id, {sig} AS sig FROM {table}
),
banded0 AS (
  SELECT id, unnest([{band_exprs}]) AS band FROM sig
),
{banded},
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM banded l JOIN banded r ON l.band = r.band AND l.id < r.id
),
sh AS (
  SELECT {id_col} AS id,
         list_transform({sh}, s -> {minhash_base_sql("s")}) AS sh
  FROM {table}
)
SELECT id_a, id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM cand
JOIN sh a ON a.id = id_a
JOIN sh b ON b.id = id_b
WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
            len(list_distinct(list_concat(a.sh, b.sh))), 6) >= {threshold}
"""


def with_simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """id → ``bits``-wide majority simhash over whitespace tokens.

    Explode + groupBy (NOT a per-bit array aggregate): the token md5 is
    computed once per token, the per-bit sums are cheap integer aggs with
    map-side partial aggregation, and the shuffle carries only
    (id, ``bits`` ints).  The token hash is the repo's 60-bit md5 device
    (``minhash_base``), so ``bits`` ≤ 60."""
    if not 0 < bits <= 60:
        raise ValueError("with_simhash supports 1..60 bits (60-bit md5 hash)")
    tok = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), _WS_RE)).alias("tok"),
    ).withColumn("h", minhash_base(F.col("tok")))
    aggs = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
        for b in range(bits)
    ]
    per = tok.groupBy("id").agg(F.count("*").alias("n"), *aggs)
    sim = F.lit(0).cast("bigint")
    for b in range(bits):
        sim = sim + F.when(F.col(f"b{b}") * 2 > F.col("n"), F.lit(1 << b)).otherwise(F.lit(0))
    return per.select(F.col("id").alias(id_col), sim.cast("bigint").alias("simhash"))


def with_simhash_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> str:
    sums = ", ".join(f"sum((h >> {b}) & 1) AS b{b}" for b in range(bits))
    terms = " + ".join(
        f"(CASE WHEN b{b} * 2 > n THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT {id_col} AS id,
         ('0x' || substring(md5(unnest(string_split_regex({text_col}, '{_WS_RE}'))), 1, 15))::BIGINT AS h
  FROM {table}
),
per AS (
  SELECT id, count(*) AS n, {sums} FROM tok GROUP BY id
)
SELECT id AS {id_col}, ({terms})::BIGINT AS simhash FROM per
"""


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 3,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
    band_max_df: int | None = BAND_MAX_DF,
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance ≤ max_distance.

    Candidates come from 15-bit-band equality (a pair within distance 3
    must agree on ≥1 of the 4 bands by pigeonhole); the exact distance
    check is ``bit_count(xor)``.  Returns ``id_a, id_b, hamming``.

    The per-doc simhash relation (one long per doc) is ``persist()``-ed —
    both sides of the band self-join read the cache instead of re-running
    the token explode + per-bit-sum aggregation."""
    sims = with_simhash(df, id_col, text_col, bits).persist()
    width = bits // bands
    mask = (1 << width) - 1
    banded = sims.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask)).cast("string"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    )
    if band_max_df is not None:
        # hot-band cap — see BAND_MAX_DF
        hot = (
            banded.groupBy("band")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > band_max_df)
            .select("band")
        )
        banded = banded.join(hot, "band", "left_anti")
    pairs = (
        banded.alias("l")
        .join(banded.alias("r"), on="band")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_distance)
    )
    return _attach_caches(pairs, [sims])


def simhash_pairs_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 3,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
    band_max_df: int | None = BAND_MAX_DF,
) -> str:
    width = bits // bands
    mask = (1 << width) - 1
    sims = with_simhash_sql(table, id_col, text_col, bits)
    band_exprs = ", ".join(
        f"'{b}|' || (((simhash >> {b * width}) & {mask})::VARCHAR)" for b in range(bands)
    )
    # conditional cap CTE, same rationale as minhash_lsh_pairs_sql: None
    # must mean "uncapped", not `> None` (invalid SQL)
    if band_max_df is not None:
        banded = f"""banded AS (  -- hot-band cap, mirroring the Spark side's BAND_MAX_DF
  SELECT * FROM banded0
  WHERE band NOT IN (SELECT band FROM banded0
                     GROUP BY band HAVING count(*) > {band_max_df})
)"""
    else:
        banded = "banded AS (SELECT * FROM banded0)"
    return f"""
WITH sims AS ({sims}),
banded0 AS (
  SELECT {id_col} AS id, simhash, unnest([{band_exprs}]) AS band FROM sims
),
{banded}
SELECT DISTINCT l.id AS id_a, r.id AS id_b,
       bit_count(xor(l.simhash, r.simhash))::INT AS hamming
FROM banded l JOIN banded r ON l.band = r.band AND l.id < r.id
WHERE bit_count(xor(l.simhash, r.simhash))::INT <= {max_distance}
"""


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tau_permille: int = 800,
    k: int = SHINGLE_K,
    max_df: int = NGRAM_MAX_DF,
) -> DataFrame:
    """Directed near-dup containment: ``inner_id, outer_id,
    containment_permille, inter`` for every pair where

        |S_inner ∩ S_outer| · 1000  ≥  tau_permille · |S_inner|

    — the asymmetric companion to :func:`ngram_jaccard_pairs`.  Jaccard
    misses a short document embedded verbatim in a much longer one
    (union is dominated by the long side); containment is exactly that
    detector: quote farms, boilerplate wrappers, chunk-of-other-doc
    training leaks.

    Same scale shape as the Jaccard operator (shared 60-bit shingle
    keys, df-cap anti-join, pre-partitioned cached index); the
    threshold compare is pure int64 (``inter·1000 ≥ τ·n``) and the
    reported per-mille is pinned integer division — no float crosses
    an engine.  Both directions of each unordered pair are tested from
    the one joined row; sizes are pre-cap string-distinct counts,
    matching the Jaccard operator's documented semantics.

    Candidates are prefix-filtered ONE-SIDED (the asymmetric analogue of
    the Jaccard operator's AllPairs prefix): a qualifying direction has
    ``inter ≥ ⌈τ·n_inner⌉``, so at least one of the inner doc's first
    ``m − ⌈τ·n⌉ + 1`` hash-sorted shingles must appear in the outer doc —
    the inner-prefix index joins the FULL index (the outer side is
    unconstrained: a containee can sit anywhere in a much larger doc,
    which is also why a symmetric-Jaccard MinHash prefilter would be
    WRONG here — exactly these pairs have low Jaccard).  Lossless; at
    τ=0.8 the prefix side carries ~20% of the exploded rows.  Verification
    intersects the candidate pair's per-doc hash arrays (vectorized
    ``array_intersect``; candidate list AQE-broadcasts) — see
    :func:`ngram_jaccard_pairs` on why no full-index re-shuffle remains."""
    docs = _capped_doc_arrays(df, id_col, text_col, k, max_df)
    alpha = F.expr(f"({tau_permille} * n + 999) div 1000")
    pref = docs.select("id", F.explode(_prefix_slice(alpha)).alias("sh"))
    full = docs.select("id", F.explode("hs").alias("sh"))
    cand = (
        pref.alias("l")
        .join(full.alias("r"), on="sh")
        .filter(F.col("l.id") != F.col("r.id"))
        .select(
            F.least("l.id", "r.id").alias("id_a"),
            F.greatest("l.id", "r.id").alias("id_b"),
        )
        .distinct()
    )
    pairs = (
        cand.join(
            docs.select(
                F.col("id").alias("id_a"), F.col("n").alias("n_a"),
                F.col("hs").alias("hs_a"),
            ),
            "id_a",
        )
        .join(
            docs.select(
                F.col("id").alias("id_b"), F.col("n").alias("n_b"),
                F.col("hs").alias("hs_b"),
            ),
            "id_b",
        )
        .select(
            "id_a", "id_b", "n_a", "n_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("inter"),
        )
    )
    # both directions from ONE pass over the verified pairs: an explode of
    # two structs, not a self-union — a union would plan the whole
    # candidate+verify subtree twice (observed: duplicated join trees)
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("inner_id"),
                    F.col("id_b").alias("outer_id"),
                    F.col("n_a").alias("n_inner"),
                    F.col("inter").alias("inter"),
                ),
                F.struct(
                    F.col("id_b").alias("inner_id"),
                    F.col("id_a").alias("outer_id"),
                    F.col("n_b").alias("n_inner"),
                    F.col("inter").alias("inter"),
                ),
            )
        ).alias("d")
    ).select("d.*")
    out = (
        directed.filter(
            F.col("inter") * 1000 >= F.lit(tau_permille) * F.col("n_inner")
        )
        .select(
            "inner_id",
            "outer_id",
            F.expr("(inter * 1000) div n_inner").alias("containment_permille"),
            "inter",
        )
    )
    return _attach_caches(out, [docs])


def containment_pairs_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    tau_permille: int = 800,
    k: int = SHINGLE_K,
    max_df: int = NGRAM_MAX_DF,
) -> str:
    """DuckDB twin of :func:`containment_pairs`."""
    sh = shingles_sql(text_col, k)
    return f"""
WITH sh0 AS (
  SELECT {id_col} AS id, {minhash_base_sql("unnest(" + sh + ")")} AS sh FROM {table}
),
sizes AS (
  SELECT id, count(*)::BIGINT AS n FROM sh0 GROUP BY id
),
shf AS (
  SELECT id, sh FROM (
    SELECT id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh0
  ) WHERE df <= {max_df}
),
docs AS (
  SELECT f.id, s.n, list_sort(list(f.sh)) AS hs
  FROM shf f JOIN sizes s ON s.id = f.id GROUP BY f.id, s.n
),
pref AS (
  SELECT id, unnest(hs[1 : greatest(0, len(hs) - (({tau_permille} * n + 999) // 1000) + 1)]) AS sh
  FROM docs
),
cand AS (
  SELECT DISTINCT least(l.id, r.id) AS id_a, greatest(l.id, r.id) AS id_b
  FROM pref l JOIN shf r ON l.sh = r.sh AND l.id <> r.id
),
pairs AS (
  SELECT c.id_a, c.id_b, len(list_intersect(a.hs, b.hs))::BIGINT AS inter
  FROM cand c
  JOIN docs a ON a.id = c.id_a
  JOIN docs b ON b.id = c.id_b
),
directed AS (
  SELECT p.id_a AS inner_id, p.id_b AS outer_id, s.n AS n_inner, p.inter
  FROM pairs p JOIN sizes s ON p.id_a = s.id
  UNION ALL
  SELECT p.id_b, p.id_a, s.n, p.inter
  FROM pairs p JOIN sizes s ON p.id_b = s.id
)
SELECT inner_id, outer_id,
       (inter * 1000) // n_inner AS containment_permille, inter
FROM directed
WHERE inter * 1000 >= {tau_permille} * n_inner"""
