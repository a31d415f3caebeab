#!/usr/bin/env python3
"""Local self-check mimicking the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

For each query result parquet written by graft.Verify, runs the
corresponding oracle SQL in DuckDB over the same test tables, then
compares: schema (column names), row count, and values (columns sorted
by name, rows sorted by all columns, exact equality with float
tolerance report). Trailing query names restrict the check to those
queries, as they restrict `graft.Verify <sfDir> <outDir> [query ...]`;
a named query without an oracle entry FAILs. With no names every
oracle entry is checked, so a missing output FAILs. Dev tool only —
not part of the shipped library.
"""
import json
import math
import sys

import duckdb

def canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    def key(t):
        return tuple((x is None, str(x)) for x in t)
    return sorted(out, key=key), [colnames[i] for i in order]

def eq(a, b):
    """'exact' | 'near' (last-ulp float drift — would still FAIL the
    driver's exact hash compare, so surfaced as HASH-RISK) | 'fail'."""
    if a is None or b is None:
        return 'exact' if (a is None and b is None) else 'fail'
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return 'exact' if str(a) == str(b) else 'fail'
        if math.isnan(fa) or math.isnan(fb):
            return 'exact' if (math.isnan(fa) and math.isnan(fb)) else 'fail'
        if fa == fb:
            return 'exact'
        if math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-12):
            return 'near'
        return 'fail'
    return 'exact' if str(a) == str(b) else 'fail'

def main():
    sf_dir, out_dir, only = sys.argv[1], sys.argv[2], set(sys.argv[3:])
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(only - oracle.keys()):
        print(f"FAIL {name}: no oracle SQL in {out_dir}/oracle_sql.json")
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            grows, gcols = got.fetchall(), [d[0] for d in got.description]
            want = con.execute(sql)
            wrows, wcols = want.fetchall(), [d[0] for d in want.description]
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            n_fail += 1
            continue
        g, gc = canon(grows, gcols)
        w, wc = canon(wrows, wcols)
        if gc != wc:
            print(f"FAIL {name}: columns {gc} vs oracle {wc}")
            n_fail += 1
            continue
        # Type lint (round-12 verdict): the driver hashes typed oracle
        # values, so a column DuckDB promotes to HUGEINT (sum(BIGINT) ->
        # INT128) hash-mismatches even when every value is numerically
        # equal — the defect that kept llm_bm25_topk & co red for three
        # rounds while this script's value-only compare said PASS.
        # Empirically (13 driver-green queries) INTEGER-vs-BIGINT and
        # DOUBLE-vs-DECIMAL drift IS tolerated by the driver hash, so
        # those are surfaced as WARN only; HUGEINT on either side is the
        # proven breaker and FAILs.
        try:
            gt = dict(r[:2] for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchall())
            wt = dict(r[:2] for r in con.execute(f"DESCRIBE {sql}").fetchall())
        except Exception as e:
            print(f"FAIL {name}: describe error: {e}")
            n_fail += 1
            continue
        drift = [(c, gt.get(c), wt.get(c)) for c in gc if gt.get(c) != wt.get(c)]
        hard = [d for d in drift if 'HUGEINT' in str(d[1]) or 'HUGEINT' in str(d[2])]
        if hard:
            print(f"FAIL {name}: TYPE-DRIFT {hard} (HUGEINT hashes differently in the driver)")
            n_fail += 1
            continue
        if drift:
            print(f"WARN {name}: type drift {drift} (driver-tolerated class; watch it)")
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs oracle {len(w)}")
            n_fail += 1
            continue
        bad = None
        near = 0
        for i, (gr, wr) in enumerate(zip(g, w)):
            for j, (ga, wa) in enumerate(zip(gr, wr)):
                st = eq(ga, wa)
                if st == 'near':
                    near += 1
                elif st == 'fail':
                    bad = (i, gc[j], ga, wa)
                    break
            if bad:
                break
        if bad:
            print(f"FAIL {name}: row {bad[0]} col {bad[1]}: got {bad[2]!r} vs oracle {bad[3]!r}")
            n_fail += 1
        elif near:
            # values agree to 1e-9 but not bit-exact: the driver's hash
            # compare WILL fail — round harder in both engines.
            print(f"FAIL {name}: HASH-RISK {near} near-equal float cells (round more)")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
