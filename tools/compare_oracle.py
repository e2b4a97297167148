#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run each
SparkEntry.oracleSql in DuckDB over the same parquet tables and compare
with the Spark result dumped by graft.Verify.

Two comparison layers, and BOTH must pass (VERDICT r13 #2 — round 13
claimed 178/178 locally while the driver recorded 177/178, because the
old row-list compare happily compared array<bigint> cells that the
driver's canonicalizer cannot even hash):

 1. the original exact row-list compare (best diagnostics: first
    mismatching row/column is printed), and
 2. a driver-faithful canonicalization — pandas frame, columns sorted
    by name, per-row value hash via pandas.util.hash_pandas_object,
    order-independent sum compared across engines. This layer raises
    exactly where the driver raises (an ndarray/list cell is
    unhashable -> TypeError), so a driver-incompatible output schema
    now fails HERE first instead of at round adjudication.

Each distinct oracle SQL text runs once per run: a streaming twin that
reuses its batch query's oracle is compared against the result its
first user fetched, which is kept only until its last user is done.

A query whose compare takes over 10 s prints one `SLOW` line to stderr
with the seconds of its four phases: the DuckDB oracle, the fetch of
the Spark result, the row compare and the canonical hash.

Usage: compare_oracle.py <sfDir> <verifyOut>"""
import sys, json, math, time
from collections import Counter
import duckdb
import pandas as pd

sfdir, vout = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sfdir}/{t}.parquet')")


def canon_hash(tbl, cols):
    """The driver's sort-columns-then-hash canonicalization: columns
    ordered by name, every row value-hashed by pandas (TypeError on
    unhashable cells — the driver's exact failure mode), and the
    per-row hashes summed so row order cannot matter."""
    df = tbl.select(cols).to_pandas()
    df = df.reindex(sorted(df.columns), axis=1)
    return int(pd.util.hash_pandas_object(df, index=False).sum() & ((1 << 64) - 1))


def oracle_result(sql):
    """The DuckDB result of `sql`, or the exception it raised, fetched
    once per distinct text and dropped after its last user."""
    if sql not in results:
        try:
            results[sql] = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            results[sql] = e
    users[sql] -= 1
    return results[sql] if users[sql] else results.pop(sql)


def compare(name, sql, t):
    """One query's two-layer compare; returns its stdout line. Records
    the seconds of each phase in `t` (oracle, fetch, compare, hash) as
    the phase ends."""
    clock = [time.perf_counter()]

    def lap(phase):
        now = time.perf_counter()
        t[phase] = now - clock[0]
        clock[0] = now

    exp = oracle_result(sql)
    lap("oracle")
    if isinstance(exp, Exception):
        return f"FAIL {name}: oracle SQL error: {exp}"
    try:
        got = con.execute(
            f"SELECT * FROM parquet_scan('{vout}/{name}/*.parquet')").fetch_arrow_table()
    except Exception as e:
        return f"FAIL {name}: spark result missing: {e}"
    finally:
        lap("fetch")
    ecols, gcols = sorted(exp.column_names), sorted(got.column_names)
    if ecols != gcols:
        return f"FAIL {name}: columns {gcols} != oracle {ecols}"
    try:
        e = exp.select(ecols).to_pylist()
        g = got.select(gcols).to_pylist()
        if len(e) != len(g):
            return f"FAIL {name}: rows {len(g)} != oracle {len(e)}"
        bad = None
        for i, (re_, rg) in enumerate(zip(e, g)):
            for c in ecols:
                a, b = re_[c], rg[c]
                eq = (a == b) or (isinstance(a, float) and isinstance(b, float)
                                 and (a == b or (math.isnan(a) and math.isnan(b))))
                if not eq:
                    bad = (i, c, a, b); break
            if bad: break
        if bad:
            i, c, a, b = bad
            return f"FAIL {name}: row {i} col {c}: spark={b!r} oracle={a!r}"
    finally:
        lap("compare")
    # Layer 2: the driver's canonicalizer must be able to adjudicate
    # this schema, and its hashes must agree — builder-green must
    # imply driver-green.
    try:
        he, hg = canon_hash(exp, ecols), canon_hash(got, gcols)
    except Exception as ex:
        return (f"FAIL {name}: driver canonicalizer rejects schema: "
                f"{type(ex).__name__}: {ex}")
    finally:
        lap("hash")
    if he != hg:
        return (f"FAIL {name}: canonical hash mismatch (spark={hg:#x} "
                f"oracle={he:#x}) despite exact row equality — dtype skew?")
    return f"OK   {name}: {len(e)} rows"


oracle = json.load(open(f"{vout}/oracle_sql.json"))
users = Counter(oracle.values())
results = {}
fail = 0
for name, sql in sorted(oracle.items()):
    t = {}
    line = compare(name, sql, t)
    if sum(t.values()) > 10:
        print(f"SLOW {name}: " + " ".join(f"{k} {v:.1f} s" for k, v in t.items()),
              file=sys.stderr, flush=True)
    print(line)
    fail += line.startswith("FAIL")
print(f"{'ALL OK' if fail == 0 else f'{fail} FAILURES'} / {len(oracle)} queries")
sys.exit(1 if fail else 0)
