"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, comparing row count, sorted column names,
and an order-insensitive value hash (rows canonicalized: columns sorted by
name, values stringified, rows sorted).

By default the gate builds a BARE ``SparkSession.builder`` session (mirroring
the driver's harness) so that any query depending on a factory-only session
conf fails here too — round 1 shipped 4 such failures that the factory-built
gate could not see.  Set ``GATE_FACTORY_SESSION=1`` to use the tuned factory
session instead, or ``GATE_FAST=1`` to keep the bare session but apply the
JVM-case-mapping perf conf (first ``lower()`` costs ~70s otherwise on
Spark 4.1 — perf-only, skips nothing).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon_value(v) -> str:
    """Injective canonicalization: every distinct value class gets a
    distinct string.  Type-TAGGED (``s:``/``n:``/``b:``/``t:``) so a
    string ``'2'`` never hash-equals the number ``2`` and a NULL never
    equals the literal string ``'NULL'``; strings escape the ``\\x1f``
    field separator so a hostile cell cannot shift field boundaries and
    align two different rows.  Ints and floats deliberately SHARE the
    numeric tag (cross-engine int64-vs-double for equal values is the
    one unification the gate wants); bools are their own tag (Python
    ``bool`` is an ``int`` subclass — untagged, ``True`` == ``1``)."""
    import datetime
    import math

    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, float):
        if math.isnan(v):
            return "n:NaN"
        if math.isinf(v):  # int(inf) raises OverflowError mid-gate
            return "n:inf" if v > 0 else "n:-inf"
        if v == int(v) and abs(v) < 1e15:
            return f"n:{int(v)}"
        return f"n:{v!r}"
    if isinstance(v, int):
        return f"n:{v}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return f"t:{v.isoformat()}"
    if isinstance(v, list):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "y:" + bytes(v).hex()
    return "s:" + str(v).replace("\\", "\\\\").replace("\x1f", "\\x1f")


def hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        "\x1f".join(canon_value(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


# DuckDB aggregates widen: sum() over BIGINT returns HUGEINT (int128),
# sum() over DOUBLE stays DOUBLE, but round(DECIMAL, n) stays DECIMAL.
# Spark has neither int128 nor DuckDB's decimal rendering, and the driver's
# harness canonicalizes HUGEINT/DECIMAL differently than int64/float64 (the
# root cause of rounds 2-4's driver-only hash reds, invisible locally
# because this checker stringifies Python ints uniformly).  The lint below
# DESCRIBEs every oracle and fails the gate on any such output column, so
# the bug class cannot ship again.  If a future query legitimately emits
# DECIMAL on BOTH engines, add its name here.
LINT_DECIMAL_ALLOWLIST: set[str] = set()


def lint_oracle_types(con, oracles: dict[str, str], only: set[str]) -> int:
    failures = 0
    for name, sql in oracles.items():
        if only and name not in only:
            continue
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle DESCRIBE error: {e}")
            failures += 1
            continue
        offend = [
            (c, t)
            for c, t, *_ in desc
            if "HUGEINT" in t.upper()
            or (t.upper().startswith("DECIMAL") and name not in LINT_DECIMAL_ALLOWLIST)
        ]
        # array/struct/map outputs: the DRIVER's pandas canonicalizer sorts
        # cells and dies on unhashable lists ("TypeError: unhashable type:
        # 'list'", r6's only two reds).  Serialize at the gate boundary
        # (array_join / array_to_string) before returning.
        offend += [
            (c, t)
            for c, t, *_ in desc
            if "[]" in t or "STRUCT" in t.upper() or "MAP(" in t.upper()
        ]
        if offend:
            cols = ", ".join(f"{c}:{t}" for c, t in offend)
            print(
                f"FAIL {name}: oracle type lint — {cols} "
                f"(cast to ::BIGINT/::DOUBLE; serialize arrays/structs "
                f"with array_to_string at the gate boundary)"
            )
            failures += 1
    return failures


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    if os.environ.get("GATE_FACTORY_SESSION"):
        from scholarmind_spark import get_spark

        spark = get_spark(app_name="check-correctness")
    else:
        from pyspark.sql import SparkSession

        b = SparkSession.builder.master("local[32]").appName("check-correctness")
        if os.environ.get("GATE_FAST"):
            b = b.config("spark.sql.icu.caseMappings.enabled", "false")
        spark = b.getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # a typo'd query name previously filtered out EVERYTHING and printed
    # ALL PASS with exit 0 — a false green on zero executed checks
    unknown = only - set(qs)
    if unknown:
        print(f"FAIL: unknown query name(s): {sorted(unknown)}")
        return 2
    failures = lint_oracle_types(con, oracles, only)
    if failures == 0:
        print(f"oracle type lint: clean over {len(oracles)} oracles")
    n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = None
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            # r14 verdict ask #7: gates must release what they persist.
            # Operators tag their persisted intermediates via attach_caches;
            # rows are already collected, so freeing here changes nothing.
            if sdf is not None:
                try:
                    from scholarmind_spark.util import release_caches

                    release_caches(sdf)
                except Exception as rexc:
                    # don't fail the gate, but DO attribute the broken
                    # release to it — the end-of-battery sweep can only
                    # say "something leaked", not who (r15 ADVICE)
                    print(f"WARN {name}: release_caches raised: {rexc}")
        spark_t = time.time() - t0
        if name not in oracles:
            n_rows_only += 1
            print(f"ok?  {name}: rows-only check, {len(srows)} rows ({spark_t:.1f}s)")
            continue
        t0 = time.time()
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        duck_t = time.time() - t0
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        if not problems:
            hs, ho = hash_rows(scols, srows), hash_rows(ocols, orows)
            if hs != ho:
                problems.append(f"value-hash {hs} vs {ho}")
                # dump up to 5 differing canonical row pairs and NAME the
                # columns that differ — a hash red must be diagnosable from
                # the gate output alone, not re-derived by hand
                names = sorted(scols)
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                cs = sorted("\x1f".join(canon_value(r[i]) for i in order_s) for r in srows)
                co = sorted("\x1f".join(canon_value(r[i]) for i in order_o) for r in orows)
                bad_cols: dict[str, int] = {}
                shown = 0
                for a, b in zip(cs, co):
                    if a == b:
                        continue
                    fa, fb = a.split("\x1f"), b.split("\x1f")
                    diff = [
                        names[i] if i < len(names) else f"#{i}"
                        for i in range(max(len(fa), len(fb)))
                        if (fa[i] if i < len(fa) else None) != (fb[i] if i < len(fb) else None)
                    ]
                    for c in diff:
                        bad_cols[c] = bad_cols.get(c, 0) + 1
                    if shown < 5:
                        print(f"     spark : {a[:240]}")
                        print(f"     duckdb: {b[:240]}")
                        print(f"     differs in: {', '.join(diff)}")
                        shown += 1
                if bad_cols:
                    top = sorted(bad_cols.items(), key=lambda kv: -kv[1])
                    print(
                        "     differing columns (rows affected): "
                        + ", ".join(f"{c}={n}" for c, n in top)
                    )
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(
                f"PASS {name}: {len(srows)} rows (spark {spark_t:.1f}s, duckdb {duck_t:.2f}s)"
            )
    # after every run, full battery or named gates, nothing may stay
    # persisted.  Per-gate release_caches above frees tagged intermediates;
    # the one deliberate cross-gate share (the CC label memo) frees through
    # its own reset, which runs first so a warm memo cannot trip the sweep.
    try:
        from scholarmind_spark.queries import reset_shared_components

        reset_shared_components()
    except Exception:
        pass
    # measure once up front: a clean battery pays no gc + sleep.  Only
    # a nonzero count nudges FIRST, then re-measures: the
    # ContextCleaner unpersists GC'd handles asynchronously, and
    # measuring at the top of the loop left the final iteration's
    # gc+sleep dead work — the FAIL verdict could read a count one
    # settle-window stale
    import gc

    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n_left = jmap.size()
    for attempt in range(6 if n_left else 0):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5 * (attempt + 1))
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        n_left = jmap.size()
        if n_left == 0:
            break
    if n_left != 0:
        names = []
        it = jmap.entrySet().iterator()
        while it.hasNext() and len(names) < 10:
            ent = it.next()
            rdd = ent.getValue()
            names.append(f"id={ent.getKey()} {rdd.name() or rdd.toString()}")
        print(
            f"FAIL cache-sweep: {n_left} persistent RDD(s) survive the "
            "battery: " + "; ".join(names)
        )
        failures += 1
    else:
        print("cache sweep: 0 persistent RDDs after the battery")
    spark.stop()
    if failures == 0:
        # rows-only entries ran but verified NOTHING beyond "it executes";
        # say so instead of letting them blend into the green line
        suffix = f" ({n_rows_only} rows-only, unverified)" if n_rows_only else ""
        print("ALL PASS" + suffix)
    else:
        print(f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
