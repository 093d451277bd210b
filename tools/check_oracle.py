#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py [sfDir] [outDir]

Runs graft.Verify (Spark) to dump each SparkEntry query to parquet +
oracle_sql.json, then replays every oracle SQL in DuckDB over the same
tables and compares: row count, column names (sorted), and cell values
(rows sorted). Reports exact float mismatches separately from near-misses.
A gate that Verify lists as failed counts as a FAIL by name; the gates it
did write are still compared.
"""
import json
import math
import os
import subprocess
import sys

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify_out"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_verify():
    """Run Verify; return the gates it reports as failed."""
    r = subprocess.run(
        ["sbt", f'runMain graft.Verify {SF_DIR} {OUT_DIR}'],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=1800)
    failed = []
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)
        if "[verify] FAILED: " in line:
            failed = line.split("[verify] FAILED: ", 1)[1].strip().split(",")
    if r.returncode != 0 and not failed:
        print(r.stdout[-3000:])
        print(r.stderr[-3000:])
        sys.exit("verify run failed")
    return failed


def canon(rows, cols):
    # sort columns by name, then rows by stringified value
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t)), [cols[i] for i in order]


def cmp_cell(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if a == b:
            return True
        if math.isnan(a) and math.isnan(b):
            return True
        return False
    return a == b


def main():
    verify_failed = set(run_verify())
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single parquet FILES; ScaleUp output
        # (/tmp/graft_sf1 etc.) ships Spark parquet DIRECTORIES — glob those
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{OUT_DIR}/oracle_sql.json"))
    failures = []
    for name, sql in sorted(oracle.items()):
        if name in verify_failed:
            failures.append(name)
            print(f"FAIL {name}: Verify failed to run the gate")
            continue
        try:
            got = con.sql(f"SELECT * FROM '{OUT_DIR}/{name}/*.parquet'")
            got_cols, got_types = list(got.columns), [str(t) for t in got.types]
            got_rows = got.fetchall()
            exp = con.sql(sql)
            exp_cols, exp_types = list(exp.columns), [str(t) for t in exp.types]
            exp_rows = exp.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: exec error {e}")
            continue
        g, gc = canon(got_rows, got_cols)
        e, ec = canon(exp_rows, exp_cols)
        if gc != ec:
            failures.append(name)
            print(f"FAIL {name}: columns {gc} != {ec}")
            continue
        # type-sensitive compare (the driver hashes Arrow values WITH types:
        # e.g. DuckDB sum() -> HUGEINT -> decimal128 vs Spark int64 must FAIL
        # here even though Python values are equal)
        gt = [t for _, t in sorted(zip(got_cols, got_types))]
        et = [t for _, t in sorted(zip(exp_cols, exp_types))]
        if gt != et:
            failures.append(name)
            print(f"FAIL {name}: types {list(zip(gc, gt))} != {list(zip(ec, et))}")
            continue
        if len(g) != len(e):
            failures.append(name)
            print(f"FAIL {name}: rows {len(g)} != {len(e)}")
            continue
        bad = 0
        for rg, re_ in zip(g, e):
            if not all(cmp_cell(a, b) for a, b in zip(rg, re_)):
                if bad < 3:
                    print(f"  {name} mismatch: got {rg} exp {re_}")
                bad += 1
        if bad:
            failures.append(name)
            print(f"FAIL {name}: {bad}/{len(g)} mismatching rows")
        else:
            print(f"OK   {name}: {len(g)} rows")
    print(f"\n{len(oracle) - len(failures)}/{len(oracle)} oracle queries pass")
    if failures:
        sys.exit(f"FAILURES: {failures}")


if __name__ == "__main__":
    main()
