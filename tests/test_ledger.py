"""Dedup ledger: fold == one-shot, state-match == raw-text operator,
engine parity, cap behavior."""

import duckdb
import pytest
from pyspark.sql import functions as F

from scholarmind_spark.operators.ledger import (
    ledger_append,
    ledger_append_sql,
    ledger_counts_merge,
    ledger_counts_merge_sql,
    ledger_fingerprints,
    ledger_fingerprints_sql,
    ledger_match,
    ledger_match_sql,
    ledger_shingle_counts,
    ledger_shingle_counts_sql,
)
from scholarmind_spark.operators.neardup import ngram_jaccard_against
from scholarmind_spark.util import release_caches

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog tonight"),
    (2, "the quick brown fox jumps over the lazy dog today"),
    (3, "pack my box with five dozen liquor jugs right now"),
    (4, "pack my box with five dozen liquor jugs right here"),
    (5, "sphinx of black quartz judge my vow this evening ok"),
    (6, "the quick brown fox jumps over the lazy cat tonight"),
]


def _ledger_state(spark, rows):
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fp = ledger_fingerprints(df, k=3)
    return df, fp


def test_state_match_equals_raw_text_operator(spark):
    """ledger_match from stored fingerprints == ngram_jaccard_against
    on the raw text — the contract that lets the gate's one-shot path
    run through ledger state."""
    batch_rows = [r for r in DOCS if r[0] % 2 == 0]
    corpus_rows = [r for r in DOCS if r[0] % 2 == 1]
    batch = spark.createDataFrame(batch_rows, "doc_id int, text string")
    corpus = spark.createDataFrame(corpus_rows, "doc_id int, text string")
    for max_df in (10_000, 3):
        fp_b = ledger_fingerprints(batch, k=3)
        fp_c = ledger_fingerprints(corpus, k=3)
        counts = ledger_counts_merge(
            ledger_shingle_counts(fp_b), ledger_shingle_counts(fp_c)
        )
        got = ledger_match(fp_b, fp_c, counts, threshold=0.3, max_df=max_df)
        want = ngram_jaccard_against(
            batch, corpus, threshold=0.3, k=3, max_df=max_df
        )
        g = sorted(tuple(r) for r in got.collect())
        w = sorted(tuple(r) for r in want.collect())
        release_caches(got)
        release_caches(want)
        assert g == w, max_df
        assert len(g) > 0  # the fixture must actually exercise matches


def test_counts_fold_equals_one_shot(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    parts = [
        ledger_fingerprints(df.filter(F.col("doc_id") % 3 == i), k=3)
        for i in range(3)
    ]
    folded = ledger_counts_merge(
        ledger_counts_merge(
            ledger_shingle_counts(parts[0]), ledger_shingle_counts(parts[1])
        ),
        ledger_shingle_counts(parts[2]),
    )
    direct = ledger_shingle_counts(ledger_fingerprints(df, k=3))
    f = sorted(tuple(r) for r in folded.collect())
    d = sorted(tuple(r) for r in direct.collect())
    assert f == d and len(f) > 0


def test_duckdb_twins_match_spark(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?,?)", DOCS)

    b = "SELECT doc_id, text FROM docs WHERE doc_id % 2 = 0"
    c = "SELECT doc_id, text FROM docs WHERE doc_id % 2 = 1"
    fb, fc = ledger_fingerprints_sql(b, k=3), ledger_fingerprints_sql(c, k=3)
    counts = ledger_counts_merge_sql(
        ledger_shingle_counts_sql(fb), ledger_shingle_counts_sql(fc)
    )
    for max_df in (10_000, 3):
        q = ledger_match_sql(fb, fc, counts, threshold=0.3, max_df=max_df)
        oracle = sorted(con.execute(f"SELECT * FROM {q}").fetchall())
        fp_b = ledger_fingerprints(df.filter(F.col("doc_id") % 2 == 0), k=3)
        fp_c = ledger_fingerprints(df.filter(F.col("doc_id") % 2 == 1), k=3)
        sc = ledger_counts_merge(
            ledger_shingle_counts(fp_b), ledger_shingle_counts(fp_c)
        )
        got = ledger_match(fp_b, fp_c, sc, threshold=0.3, max_df=max_df)
        g = sorted((a, b_, float(j)) for a, b_, j in
                   (tuple(r) for r in got.collect()))
        release_caches(got)
        assert g == [(a, b_, float(j)) for a, b_, j in oracle], max_df

    # append twin
    n = con.execute(
        f"SELECT count(*) FROM {ledger_append_sql(fb, fc)}"
    ).fetchone()[0]
    assert n == len(DOCS)


def test_empty_batch_matches_nothing(spark):
    df, fp = _ledger_state(spark, DOCS)
    empty = ledger_fingerprints(
        spark.createDataFrame([], "doc_id int, text string"), k=3
    )
    counts = ledger_counts_merge(
        ledger_shingle_counts(fp), ledger_shingle_counts(empty)
    )
    out = ledger_match(empty, fp, counts, threshold=0.3)
    assert out.count() == 0
    release_caches(out)


def test_all_hot_doc_drops_out(spark):
    """With max_df=1 every shared shingle is hot; docs reduce to their
    unique shingles and only truly-unique-overlap pairs can match (here:
    none — so no pair survives)."""
    df, fp = _ledger_state(spark, DOCS)
    counts = ledger_shingle_counts(fp)
    out = ledger_match(fp, fp, counts, threshold=0.9, max_df=1)
    # identical-doc self pairs WOULD have J=1.0, but every one of their
    # shingles is shared (df >= 2 > 1) so the capped arrays are empty
    got = [r for r in out.collect() if r["new_id"] != r["corpus_id"]]
    release_caches(out)
    assert got == []


def test_null_text_doc_has_no_ledger_row_on_both_engines(spark):
    """Review finding: Spark kept (id, n, []) for NULL text while the
    DuckDB twin dropped the doc; both must drop it."""
    rows = [(1, "real text here ok"), (2, None)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = ledger_fingerprints(df, k=3).collect()
    assert [r["id"] for r in got] == [1]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?,?)", rows)
    q = ledger_fingerprints_sql("SELECT doc_id, text FROM d", k=3)
    assert [r[0] for r in con.execute(f"SELECT id FROM {q}").fetchall()] == [1]


def test_caches_released_through_gate_wrappers(spark):
    """The gate wrappers that chain .select/.orderBy must re-attach
    _sm_caches so release_caches() actually frees the persists."""
    from scholarmind_spark.queries import SPARK_QUERIES

    spark.catalog.clearCache()  # isolate from earlier tests' persists
    # ID-SET assert, not global-zero or a count delta: plan-building in
    # other test files (test_plans) can leave ambient persistent-RDD
    # registrations that clearCache does not drop, and the async
    # ContextCleaner can unregister GC'd ambient RDDs mid-test (a count
    # comparison could mask a new leak against such a removal) — this
    # test owns only the persists ITS queries create, i.e. any RDD id
    # present AFTER that was not present BEFORE
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    base_ids = set(jmap.keySet().toArray())
    for name in ("lit_fuzzy_dedup", "link_fuzzy_vocab", "dedup_incremental", "lit_llm_extract"):
        out = SPARK_QUERIES[name](spark, "/root/testdata/sf0.001")
        assert getattr(out, "_sm_caches", []), name
        out.collect()
        release_caches(out)
    # nothing persisted by the wrapped queries should remain registered
    after_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after_ids <= base_ids, after_ids - base_ids


def test_bloom_gated_match_equals_plain(spark):
    """ledger_match with the Bloom front-gate returns EXACTLY the
    ungated matches (never-false-negative ⇒ no candidate lost), across
    geometries including a deliberately tiny/high-FPR one."""
    batch = [(10, t) for _, t in DOCS[:2]] + [
        (11, "completely novel content about sailing ships and tides")
    ]
    corpus_df, corpus_fp = _ledger_state(spark, DOCS)
    batch_df, batch_fp = _ledger_state(spark, batch)
    counts = ledger_counts_merge(
        ledger_shingle_counts(corpus_fp), ledger_shingle_counts(batch_fp)
    )
    plain = sorted(
        tuple(r)
        for r in ledger_match(batch_fp, corpus_fp, counts, 0.5, 100).collect()
    )
    for geom in ((256, 4), (2, 2)):  # honest and deliberately saturated
        gated = sorted(
            tuple(r)
            for r in ledger_match(
                batch_fp, corpus_fp, counts, 0.5, 100, bloom_gate=geom
            ).collect()
        )
        assert gated == plain, geom
    assert plain  # the near-dup batch docs must actually match


def test_prefix_rows_twin(spark):
    """ledger_prefix_rows == its DuckDB twin (the surface the bloom
    keep-ratio is measured on)."""
    from scholarmind_spark.operators.ledger import (
        ledger_prefix_rows,
        ledger_prefix_rows_sql,
    )

    df, fp = _ledger_state(spark, DOCS)
    counts = ledger_shingle_counts(fp)
    got = sorted(
        tuple(r) for r in ledger_prefix_rows(fp, counts, 0.5, 100).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?,?)", DOCS)
    fp_q = ledger_fingerprints_sql("SELECT * FROM documents", k=3)
    oracle = sorted(
        con.execute(
            "SELECT * FROM "
            + ledger_prefix_rows_sql(fp_q, ledger_shingle_counts_sql(fp_q), 0.5, 100)
        ).fetchall()
    )
    assert got == oracle and got


def test_revise_equals_from_scratch(spark):
    from scholarmind_spark.operators.ledger import ledger_revise

    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    fp0 = ledger_fingerprints(df, k=3)
    c0 = ledger_shingle_counts(fp0)
    revised = spark.createDataFrame(
        [(2, "a completely different text about boats and rivers"),
         (7, "a brand new document inserted by revision")],
        "doc_id int, text string",
    )
    rev_fp = ledger_fingerprints(revised, k=3)
    new_fp, new_counts = ledger_revise(fp0, c0, rev_fp)

    after = [(i, t) for i, t in DOCS if i != 2] + [
        (2, "a completely different text about boats and rivers"),
        (7, "a brand new document inserted by revision"),
    ]
    df_after = spark.createDataFrame(after, "doc_id int, text string")
    fp_direct = ledger_fingerprints(df_after, k=3)
    assert sorted(tuple(r) for r in new_fp.collect()) == sorted(
        tuple(r) for r in fp_direct.collect()
    )
    assert sorted(tuple(r) for r in new_counts.collect()) == sorted(
        tuple(r) for r in ledger_shingle_counts(fp_direct).collect()
    )


def test_revise_sql_twin(spark):
    import duckdb as _dd

    from scholarmind_spark.operators.ledger import ledger_revise_sql

    con = _dd.connect()
    con.execute("CREATE TABLE d (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?,?)", DOCS)
    fp0 = ledger_fingerprints_sql("SELECT doc_id, text FROM d", k=3)
    c0 = ledger_shingle_counts_sql(fp0)
    rev = ("SELECT doc_id, text || ' twist' AS text FROM d WHERE doc_id = 1")
    rev_fp = ledger_fingerprints_sql(rev, k=3)
    new_fp, new_counts = ledger_revise_sql(fp0, c0, rev_fp)
    after = (
        "SELECT doc_id, CASE WHEN doc_id = 1 THEN text || ' twist' "
        "ELSE text END AS text FROM d"
    )
    direct_fp = ledger_fingerprints_sql(after, k=3)
    a = sorted(con.execute(f"SELECT * FROM {new_fp}").fetchall())
    b = sorted(con.execute(f"SELECT * FROM {direct_fp}").fetchall())
    assert a == b
    ca = sorted(con.execute(f"SELECT * FROM {new_counts}").fetchall())
    cb = sorted(con.execute(
        f"SELECT * FROM {ledger_shingle_counts_sql(direct_fp)}").fetchall())
    assert ca == cb


def test_retire_equals_from_scratch_and_unknown_id_noop(spark):
    """ledger_retire: retired docs' fingerprint rows dropped and their
    shingle contributions subtracted — state equals a from-scratch
    build over the SURVIVING corpus row-for-row; retiring an id the
    ledger never saw is a no-op."""
    from scholarmind_spark.operators.ledger import ledger_retire

    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    fp0 = ledger_fingerprints(df, k=3)
    c0 = ledger_shingle_counts(fp0)
    retired = spark.createDataFrame([(2,), (4,), (999,)], "id int")
    new_fp, new_counts = ledger_retire(fp0, c0, retired)

    survivors = [(i, t) for i, t in DOCS if i not in (2, 4)]
    fp_direct = ledger_fingerprints(
        spark.createDataFrame(survivors, "doc_id int, text string"), k=3
    )
    assert sorted(tuple(r) for r in new_fp.collect()) == sorted(
        tuple(r) for r in fp_direct.collect()
    )
    assert sorted(tuple(r) for r in new_counts.collect()) == sorted(
        tuple(r) for r in ledger_shingle_counts(fp_direct).collect()
    )


def test_retire_sql_twin(spark):
    import duckdb

    from scholarmind_spark.operators.ledger import (
        ledger_fingerprints_sql,
        ledger_retire,
        ledger_retire_sql,
        ledger_shingle_counts_sql,
    )

    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    fp0 = ledger_fingerprints(df, k=3)
    c0 = ledger_shingle_counts(fp0)
    retired = spark.createDataFrame([(1,), (5,)], "id int")
    new_fp, new_counts = ledger_retire(fp0, c0, retired)
    got_fp = sorted((r.id, r.n, tuple(r.hs)) for r in new_fp.collect())
    got_c = sorted(tuple(r) for r in new_counts.collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?,?)", DOCS)
    fp_q = ledger_fingerprints_sql("SELECT * FROM documents", k=3)
    nf, nc = ledger_retire_sql(
        fp_q,
        ledger_shingle_counts_sql(fp_q),
        "(SELECT 1 AS id UNION ALL SELECT 5)",
    )
    o_fp = sorted(
        (i, n, tuple(hs))
        for i, n, hs in con.execute(f"SELECT id, n, hs FROM {nf}").fetchall()
    )
    o_c = sorted(con.execute(f"SELECT sh, df_count FROM {nc}").fetchall())
    assert got_fp == o_fp and got_c == o_c and got_fp


def test_expire_equals_from_scratch_over_retained(spark):
    """ledger_expire (time-based retention, the sketch-compact twin):
    docs with ingest day < cutoff drop with exact count subtraction —
    state == from-scratch build over the retained corpus; NULL-day docs
    and docs with NO ingest-day row are RETAINED (retention never
    deletes what it cannot prove expired); re-running with the same
    cutoff is a no-op."""
    from scholarmind_spark.operators.ledger import ledger_expire

    df, fp = _ledger_state(spark, DOCS)
    counts = ledger_shingle_counts(fp)
    # doc 1/2 old, doc 3 NULL day, doc 4 recent, docs 5/6 no row at all
    days = spark.createDataFrame(
        [(1, 19000), (2, 19001), (3, None), (4, 19010)],
        "id int, day int",
    )
    new_fp, new_counts = ledger_expire(fp, counts, days, cutoff_day=19005)

    retained = [r for r in DOCS if r[0] not in (1, 2)]
    _, fp_direct = _ledger_state(spark, retained)
    counts_direct = ledger_shingle_counts(fp_direct)

    got_fp = sorted((r.id, r.n, tuple(r.hs)) for r in new_fp.collect())
    want_fp = sorted((r.id, r.n, tuple(r.hs)) for r in fp_direct.collect())
    assert got_fp == want_fp
    got_c = sorted(tuple(r) for r in new_counts.collect())
    want_c = sorted(tuple(r) for r in counts_direct.collect())
    assert got_c == want_c

    # idempotent: the expired ids are gone from the state, so a second
    # pass with the same cutoff changes nothing
    fp2, c2 = ledger_expire(new_fp, new_counts, days, cutoff_day=19005)
    assert sorted((r.id, r.n, tuple(r.hs)) for r in fp2.collect()) == got_fp
    assert sorted(tuple(r) for r in c2.collect()) == got_c


def test_expire_sql_twin_matches(spark):
    """DuckDB twin of ledger_expire produces the identical state pair."""
    from scholarmind_spark.operators.ledger import (
        ledger_expire,
        ledger_expire_sql,
    )

    df, fp = _ledger_state(spark, DOCS)
    counts = ledger_shingle_counts(fp)
    days = spark.createDataFrame(
        [(1, 19000), (2, 19001), (3, None), (4, 19010)],
        "id int, day int",
    )
    new_fp, new_counts = ledger_expire(fp, counts, days, cutoff_day=19005)

    # build via the SQL twins end-to-end
    con = duckdb.connect()
    df_pd = df.toPandas()
    con.register("docs", df_pd)
    fp_sql = ledger_fingerprints_sql("SELECT doc_id, text FROM docs", k=3)
    c_sql = ledger_shingle_counts_sql(fp_sql)
    days_sql = (
        "(SELECT * FROM (VALUES (1, 19000), (2, 19001), (3, NULL),"
        " (4, 19010)) AS t(id, day))"
    )
    nf_sql, nc_sql = ledger_expire_sql(fp_sql, c_sql, days_sql, 19005)
    got_fp = sorted(
        (int(i), int(n), tuple(h))
        for i, n, h in con.execute(
            f"SELECT id, n, hs FROM {nf_sql}"
        ).fetchall()
    )
    want_fp = sorted((r.id, r.n, tuple(r.hs)) for r in new_fp.collect())
    assert got_fp == want_fp
    got_c = sorted(
        (int(s), int(c))
        for s, c in con.execute(f"SELECT sh, df_count FROM {nc_sql}").fetchall()
    )
    want_c = sorted((r.sh, r.df_count) for r in new_counts.collect())
    assert got_c == want_c


def test_mor_resolve_equals_from_scratch(spark):
    """Merge-on-read resolve (ledger_mor_resolve_fp/counts): a base +
    revision delta + tombstone delta chain resolves to exactly the
    from-scratch state over the latest surviving corpus, and the DuckDB
    twins agree row-for-row."""
    from scholarmind_spark.operators.ledger import (
        ledger_mor_resolve_counts,
        ledger_mor_resolve_counts_sql,
        ledger_mor_resolve_fp,
        ledger_mor_resolve_fp_sql,
    )

    def _seq(fp, seq, tomb=False):
        return fp.select(
            "id", "n", "hs",
            F.lit(seq).cast("int").alias("seq"),
            F.lit(tomb).alias("tomb"),
        )

    _, fp0 = _ledger_state(spark, DOCS)  # base: docs 1-6, seq 0
    rev_rows = [(2, "the quick brown fox jumps over the lazy dog REVISED"),
                (7, "a brand new seventh document arrives in wave one ok")]
    _, fp1 = _ledger_state(spark, rev_rows)  # delta: revise 2, insert 7
    tomb = spark.createDataFrame([(1,)], "id int").select(
        "id",
        F.lit(None).cast("bigint").alias("n"),
        F.lit(None).cast("array<bigint>").alias("hs"),
        F.lit(2).cast("int").alias("seq"),
        F.lit(True).alias("tomb"),
    )
    chain = _seq(fp0, 0).unionByName(_seq(fp1, 1)).unionByName(tomb)

    latest = [r for r in DOCS if r[0] not in (1, 2)] + rev_rows
    _, fp_direct = _ledger_state(spark, latest)
    want_fp = sorted((r.id, r.n, tuple(r.hs)) for r in fp_direct.collect())
    got_fp = sorted(
        (r.id, r.n, tuple(r.hs))
        for r in ledger_mor_resolve_fp(chain).collect()
    )
    assert got_fp == want_fp

    # counts chain: base counts + signed deltas (pos of wave-1 fp, neg of
    # replaced doc 2's base fp, neg of tombstoned doc 1's base fp)
    base_counts = ledger_shingle_counts(fp0)
    pos1 = ledger_shingle_counts(fp1)
    neg = ledger_shingle_counts(
        fp0.where(F.col("id").isin([1, 2]))
    ).select("sh", (-F.col("df_count")).alias("df_count"))
    cchain = base_counts.unionByName(pos1).unionByName(neg)
    want_c = sorted(
        tuple(r) for r in ledger_shingle_counts(fp_direct).collect()
    )
    got_c = sorted(
        tuple(r) for r in ledger_mor_resolve_counts(cchain).collect()
    )
    assert got_c == want_c

    # DuckDB twins over the identical chains
    con = duckdb.connect()
    con.register("fpchain", chain.toPandas())
    con.register("cchain", cchain.toPandas())
    sql_fp = sorted(
        (int(i), int(n), tuple(h))
        for i, n, h in con.execute(
            f"SELECT id, n, hs FROM {ledger_mor_resolve_fp_sql('fpchain')}"
        ).fetchall()
    )
    assert sql_fp == want_fp
    sql_c = sorted(
        (int(s), int(c))
        for s, c in con.execute(
            f"SELECT sh, df_count FROM {ledger_mor_resolve_counts_sql('cchain')}"
        ).fetchall()
    )
    assert sql_c == want_c
