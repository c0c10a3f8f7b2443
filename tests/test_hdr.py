"""HDR log-bucket quantile sketch: bucket math vs a Python reference,
error bound, mergeability, quantile semantics, engine parity."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from scholarmind_spark.operators.hdr import (
    hdr_build_sql,
    hdr_merge_sql,
    hdr_quantiles_sql,
)
from scholarmind_spark.operators.sketchledger import (
    hdr_state_build,
    hdr_state_merge,
    hdr_state_quantiles,
)

P = 5


def ref_bucket(vm: int, p: int = P):
    """(sign, bucket) in pure Python."""
    if vm == 0:
        return (0, 0)
    sign = 1 if vm > 0 else -1
    a = abs(vm)
    e = a.bit_length() - 1
    sub = (a << p) // (1 << e) - (1 << p)
    return (sign, e * (1 << p) + sub)


def ref_midpoint(sign: int, bucket: int, p: int = P) -> int:
    if sign == 0:
        return 0
    tp = 1 << p
    e, sub = bucket // tp, bucket % tp
    if e >= p:
        lo = (tp + sub) << (e - p)
        w = 1 << (e - p)
        return sign * (lo + w // 2)
    return sign * ((tp + sub) >> (p - e))


@settings(max_examples=400, deadline=None)
@given(st.integers(min_value=-(2**57), max_value=2**57))
def test_bucket_midpoint_relative_error_bound(vm):
    """Every value's bucket midpoint is within 2^-p relative error."""
    sign, bucket = ref_bucket(vm)
    mid = ref_midpoint(sign, bucket)
    if vm == 0:
        assert mid == 0
    else:
        assert abs(mid - vm) <= max(1, abs(vm) / (1 << P))
        assert (mid >= 0) == (vm >= 0)


def test_build_matches_python_reference(spark):
    vals = [0.0, 0.001, -0.001, 1.0, 1.5, -2.75, 1000.25, -99999.875,
            3.14159, 0.0005, -0.0004]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {
        (r["sign"], r["bucket"]): r["cnt"]
        for r in hdr_state_build(df, [], "v", P).collect()
    }
    import math

    def half_up(x):  # Spark's round(): HALF_UP, away from zero
        return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)

    want = {}
    for v in vals:
        key = ref_bucket(half_up(v * 1000))
        want[key] = want.get(key, 0) + 1
    assert got == want


def test_non_finite_and_null_dropped(spark):
    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (float("inf"),), (-float("inf"),), (None,)],
        "v double",
    )
    cells = hdr_state_build(df, [], "v").collect()
    assert sum(r["cnt"] for r in cells) == 1


def test_merge_fold_equals_direct(spark):
    import random

    rng = random.Random(7)
    vals = [(i, rng.uniform(-1000, 1000)) for i in range(300)]
    df = spark.createDataFrame(vals, "id int, v double")
    direct = {
        (r["sign"], r["bucket"]): r["cnt"]
        for r in hdr_state_build(df, [], "v").collect()
    }
    parts = [
        hdr_state_build(df.filter(F.col("id") % 3 == i), [], "v") for i in range(3)
    ]
    merged = {
        (r["sign"], r["bucket"]): r["cnt"]
        for r in hdr_state_merge(
            hdr_state_merge(parts[0], parts[1]), parts[2]
        ).collect()
    }
    assert merged == direct


def test_quantiles_near_exact(spark):
    vals = [float(i) for i in range(1, 1001)]  # 1..1000
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    sk = hdr_state_build(df, [], "v")
    q = {
        r["q_permille"]: r
        for r in hdr_state_quantiles(sk, [], (500, 900, 990)).collect()
    }
    for qp in (500, 900, 990):
        exact = qp  # value == permille here
        est = q[qp]["est_milli"] / 1000.0
        assert abs(est - exact) <= max(0.005, exact / (1 << P)), (qp, est)
        assert q[qp]["n_rows"] == 1000


def test_duckdb_twin_build_and_quantiles(spark):
    vals = [0.0, 0.001, -0.5, 1.0, 2.0, 4.0, 7.99, -1024.5, 31.25, 0.064,
            123456.789, -0.002]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    srows = sorted(tuple(r) for r in hdr_state_build(df, [], "v").collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    build = hdr_build_sql("SELECT v FROM t")
    orows = sorted(con.execute(f"SELECT * FROM {build}").fetchall())
    assert srows == orows

    sq = sorted(
        tuple(r)
        for r in hdr_state_quantiles(
            hdr_state_build(df, [], "v"), [], (250, 500, 750)
        ).collect()
    )
    oq = sorted(
        con.execute(
            f"SELECT * FROM {hdr_quantiles_sql(build, (250, 500, 750))}"
        ).fetchall()
    )
    assert sq == oq

    # merge twin
    m = hdr_merge_sql(build, build)
    dbl = {(s, b): c for s, b, c in con.execute(f"SELECT * FROM {m}").fetchall()}
    assert dbl == {(s, b): 2 * c for s, b, c in orows}


def test_validation(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError):
        hdr_state_build(df, [], "v", p=0)
    with pytest.raises(ValueError):
        hdr_build_sql("SELECT v FROM t", p=11)
    with pytest.raises(ValueError):
        hdr_state_quantiles(hdr_state_build(df, [], "v"), [], (0,))


def test_grouped_build_and_quantiles_match_global_per_group(spark):
    """A grouped sketch restricted to one group == the global sketch of
    that group's rows, and the grouped quantiles match the global ones."""
    import random

    rng = random.Random(11)
    rows = [("a" if i % 3 else "b", rng.uniform(-50, 500)) for i in range(400)]
    df = spark.createDataFrame(rows, "grp string, v double")
    grouped = hdr_state_build(df, ["grp"], "v")
    for g in ("a", "b"):
        sub = {
            (r["sign"], r["bucket"]): r["cnt"]
            for r in grouped.where(F.col("grp") == g).collect()
        }
        solo = {
            (r["sign"], r["bucket"]): r["cnt"]
            for r in hdr_state_build(df.where(F.col("grp") == g), [], "v").collect()
        }
        assert sub == solo, g
        gq = {
            r["q_permille"]: r["est_milli"]
            for r in hdr_state_quantiles(grouped, ["grp"], (500, 990)).where(
                F.col("grp") == g
            ).collect()
        }
        sq = {
            r["q_permille"]: r["est_milli"]
            for r in hdr_state_quantiles(
                hdr_state_build(df.where(F.col("grp") == g), [], "v"), [], (500, 990)
            ).collect()
        }
        assert gq == sq, g


def test_grouped_duckdb_twin(spark):
    from scholarmind_spark.operators.hdr import (
        hdr_build_by_group_sql,
        hdr_quantiles_by_group_sql,
    )

    rows = [("x", 1.5), ("x", -3.25), ("x", 700.0), ("y", 0.0), ("y", 2.0),
            (None, 9.0), ("x", None)]
    df = spark.createDataFrame(rows, "grp string, v double")
    key = lambda t: (t[0] is not None, t[0] or "", t[1])
    got = sorted(
        (tuple(r)
         for r in hdr_state_quantiles(
             hdr_state_build(df, ["grp"], "v"), ["grp"], (250, 750)
         ).collect()),
        key=key,
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (grp VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    sk = hdr_build_by_group_sql("SELECT grp, v FROM t")
    oracle = sorted(
        con.execute(
            f"SELECT * FROM {hdr_quantiles_by_group_sql(sk, (250, 750))}"
        ).fetchall(),
        key=key,
    )
    assert got == oracle and len(got) == 6  # 3 groups (incl NULL) x 2 qs
