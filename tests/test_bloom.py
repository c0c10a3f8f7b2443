"""Bloom membership sketch: no false negatives, mergeability, engine
parity, geometry validation."""

import duckdb
import pytest
from pyspark.sql import functions as F

from scholarmind_spark.operators.bloom import (
    bloom_build_sql,
    bloom_contains,
    bloom_contains_sql,
    bloom_merge_sql,
)
from scholarmind_spark.operators.sketchledger import (
    bloom_state_build,
    bloom_state_merge,
)

MEMBERS = [f"key-{i}" for i in range(200)]
ABSENT = [f"nope-{i}" for i in range(200)]



def test_default_geometry_round_trip_has_no_false_negatives(spark):
    """The builder and the probe share one default geometry: a filter
    built and probed with every default reports each built key present.
    A 64-word builder default under a 256-word probe default reported 499
    of 500 built keys absent."""
    df = spark.createDataFrame([(f"doc-{i}",) for i in range(500)], ["v"])
    got = bloom_contains(bloom_state_build(df, [], "v"), df, "v").collect()
    assert len(got) == 500
    assert all(r["contained"] == 1 for r in got)

def test_no_false_negatives_and_some_discrimination(spark):
    df = spark.createDataFrame([(v,) for v in MEMBERS], ["v"])
    sk = bloom_state_build(df, [], "v", m_words=64, k=4)
    probes = spark.createDataFrame([(v,) for v in MEMBERS + ABSENT], ["v"])
    got = {
        r["key"]: r["contained"]
        for r in bloom_contains(sk, probes, "v", m_words=64, k=4).collect()
    }
    assert all(got[v] == 1 for v in MEMBERS)  # the hard guarantee
    # 64*63 = 4032 bits, 200*4 = 800 set → FPR ~ (1-e^-0.198)^4 ≈ 0.1%;
    # demand the absent side is mostly rejected (no exact rate pinned)
    fp = sum(got[v] for v in ABSENT)
    assert fp < len(ABSENT) // 4


def test_merge_fold_equals_direct(spark):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(MEMBERS)], ["i", "v"]
    )
    direct = {
        r["word"]: r["bits"]
        for r in bloom_state_build(df, [], "v", m_words=32, k=3).collect()
    }
    parts = [
        bloom_state_build(df.filter(F.col("i") % 3 == j), [], "v", m_words=32, k=3)
        for j in range(3)
    ]
    merged = {
        r["word"]: r["bits"]
        for r in bloom_state_merge(
            bloom_state_merge(parts[0], parts[1]), parts[2]
        ).collect()
    }
    assert merged == direct


def test_sign_bit_never_set(spark):
    """63 data bits per word: every stored word stays non-negative, so
    cross-engine comparison/hashing of the bigint is unambiguous."""
    df = spark.createDataFrame([(v,) for v in MEMBERS], ["v"])
    for r in bloom_state_build(df, [], "v", m_words=8, k=4).collect():
        assert r["bits"] >= 0


def test_duckdb_twin(spark):
    rows = [(v,) for v in MEMBERS[:50]]
    df = spark.createDataFrame(rows, ["v"])
    s_build = sorted(
        tuple(r) for r in bloom_state_build(df, [], "v", m_words=16, k=3).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    build = bloom_build_sql("SELECT v FROM t", m_words=16, k=3)
    o_build = sorted(con.execute(f"SELECT * FROM {build}").fetchall())
    assert s_build == o_build

    probes = spark.createDataFrame(
        [(v,) for v in MEMBERS[:50] + ABSENT[:50]], ["v"]
    )
    s_cont = sorted(
        tuple(r)
        for r in bloom_contains(
            bloom_state_build(df, [], "v", m_words=16, k=3), probes, "v",
            m_words=16, k=3,
        ).collect()
    )
    con.execute("CREATE TABLE pr (v VARCHAR)")
    con.executemany(
        "INSERT INTO pr VALUES (?)", [(v,) for v in MEMBERS[:50] + ABSENT[:50]]
    )
    o_cont = sorted(
        con.execute(
            f"SELECT * FROM {bloom_contains_sql(build, 'SELECT v FROM pr', m_words=16, k=3)}"
        ).fetchall()
    )
    assert s_cont == o_cont

    merged = bloom_merge_sql(build, build)
    assert sorted(con.execute(f"SELECT * FROM {merged}").fetchall()) == o_build


def test_null_keys_dropped(spark):
    df = spark.createDataFrame([("a",), (None,)], ["v"])
    sk = bloom_state_build(df, [], "v", m_words=4, k=2)
    probes = spark.createDataFrame([("a",), (None,)], ["v"])
    got = bloom_contains(sk, probes, "v", m_words=4, k=2).collect()
    assert len(got) == 1 and got[0]["key"] == "a" and got[0]["contained"] == 1


def test_geometry_validation(spark):
    df = spark.createDataFrame([("a",)], ["v"])
    for bad_kwargs in ({"m_words": 0}, {"k": 0}, {"k": 17}):
        with pytest.raises(ValueError):
            bloom_state_build(df, [], "v", **bad_kwargs)
        with pytest.raises(ValueError):
            bloom_build_sql("SELECT v FROM t", **bad_kwargs)


def test_prune_then_join_equals_plain_join(spark):
    """Never-false-negative ⇒ pruning the probe side cannot change the
    join result, only shrink the shuffled volume."""
    from scholarmind_spark.operators.bloom import bloom_prune

    build = spark.createDataFrame([(v,) for v in MEMBERS[:40]], ["key"])
    probe = spark.createDataFrame(
        [(v, i) for i, v in enumerate(MEMBERS[:80] + ABSENT)], ["key", "x"]
    )
    sk = bloom_state_build(build, [], "key", m_words=32, k=4)
    pruned = bloom_prune(probe, "key", sk, m_words=32, k=4)
    plain = sorted(tuple(r) for r in probe.join(build, "key").collect())
    via_prune = sorted(tuple(r) for r in pruned.join(build, "key").collect())
    assert plain == via_prune
    # and the pruned side is actually smaller than the probe side
    n_pruned, n_probe = pruned.count(), probe.count()
    assert n_pruned < n_probe
    assert n_pruned >= 40  # every true member survives


def test_prune_duckdb_twin(spark):
    from scholarmind_spark.operators.bloom import bloom_prune, bloom_prune_sql

    build_rows = [(v,) for v in MEMBERS[:30]]
    probe_rows = [(v, i) for i, v in enumerate(MEMBERS[:60] + ABSENT[:60])]
    build = spark.createDataFrame(build_rows, ["key"])
    probe = spark.createDataFrame(probe_rows, ["key", "x"])
    sk = bloom_state_build(build, [], "key", m_words=16, k=3)
    got = sorted(
        tuple(r) for r in bloom_prune(probe, "key", sk, m_words=16, k=3).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE b (key VARCHAR)")
    con.executemany("INSERT INTO b VALUES (?)", build_rows)
    con.execute("CREATE TABLE p (key VARCHAR, x INT)")
    con.executemany("INSERT INTO p VALUES (?,?)", probe_rows)
    q = bloom_prune_sql(
        "SELECT * FROM p", "key",
        bloom_build_sql("SELECT key AS v FROM b", m_words=16, k=3),
        m_words=16, k=3,
    )
    oracle = sorted(con.execute(f"SELECT * FROM {q}").fetchall())
    assert got == oracle
