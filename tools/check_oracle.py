#!/usr/bin/env python3
"""Local pre-verification harness (driver-side tooling, NOT engine code).

Mimics the driver's DuckDB-oracle compare: for each query dir written by
graft.Verify, run the oracle SQL in DuckDB over the same testdata
parquet, sort columns by name, sort rows, and compare values exactly.
Every query graft.Verify recorded in errors.json fails too, including
the rows-only queries that have no oracle SQL to compare against.

Usage: python3 tools/check_oracle.py /tmp/verify_out /root/testdata/sf0.01
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)  # tolerate repr noise only, not value drift
            vals.append(repr(v))
        out.append(tuple(vals))
    out.sort()
    return [cols[i] for i in order], out


def main(outdir, sfdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            exp = con.execute(sql)
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
        except Exception as e:
            print(f"FAIL {name}: exception {e}")
            n_bad += 1
            continue
        gc, gr = canon(grows, gcols)
        ec, er = canon(erows, ecols)
        if gc != ec:
            print(f"FAIL {name}: columns {gc} vs oracle {ec}")
            n_bad += 1
        elif len(gr) != len(er):
            print(f"FAIL {name}: rows {len(gr)} vs oracle {len(er)}")
            n_bad += 1
        elif gr != er:
            diffs = [(a, b) for a, b in zip(gr, er) if a != b][:3]
            print(f"FAIL {name}: value diff, first: {diffs}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(gr)} rows)")
            n_ok += 1
    # a query that raised wrote a sentinel result: an oracle-checked one
    # already failed above, but a rows-only one has no SQL to fail it
    try:
        errors = json.load(open(f"{outdir}/errors.json"))
    except FileNotFoundError:
        errors = {}
    for name, msg in sorted(errors.items()):
        print(f"FAIL {name}: query raised {msg}")
        if name not in oracle:
            n_bad += 1
    print(f"== {n_ok} ok, {n_bad} failed ==")
    if n_ok + n_bad == 0:
        # an empty oracle_sql.json (e.g. a Verify name filter that
        # matched nothing) compared nothing: that is not a pass
        print("FAIL: no queries compared")
        return 1
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
