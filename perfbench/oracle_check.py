#!/usr/bin/env python3
"""Check perfbench/data/expected.json against the registry's DuckDB oracle.

    python3 perfbench/oracle_check.py            # verify the committed file
    python3 perfbench/oracle_check.py --write    # regenerate it

Runs every registry query the benchmark uses once on the fixture tables
(perfbench/data/sf0.01), dumps its output, and compares it with the
query's DuckDB oracle SQL from SparkEntry.oracleSql: same columns, same
row count, same sorted value multiset (the standard of
tools/selfcheck.py). Only when every query matches does the engine's
row count and content hash count as the expected result the benchmark
holds each timed operation to.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import duckdb

import run

TABLES = ["documents", "embeddings", "events", "lineitem", "orders"]


def norm(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if v is not None and type(v).__name__ in ("Decimal", "datetime", "date", "Timestamp"):
        return str(v)
    return v


def canon(rel):
    df = rel.df()
    cols = list(df.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = []
    for r in df.itertuples(index=False, name=None):
        vals = [None if (isinstance(v, float) and v != v) else v for v in r]
        rows.append(tuple(norm(vals[i]) for i in order))
    rows.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return sorted(cols), rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true",
                    help="write perfbench/data/expected.json when every query matches")
    a = ap.parse_args()
    data = os.path.join(run.HERE, "data")
    bdir = run.build_dir()
    cp = run.build(bdir)
    out = os.path.join(bdir, "oracle")
    work = os.path.join(bdir, "work", "oracle")
    for d in (out, work):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = run.harness_command(cp, work, "--dump", out, "--data", data, "--work", work)
    log = os.path.join(bdir, "oracle.log")
    with open(log, "w") as f:
        rc = run.run_child(cmd, work, dict(os.environ), f, subprocess.STDOUT, 600)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        sys.exit(f"dump failed (exit {rc}); log: {log}")
    with open(os.path.join(out, "expected.json")) as f:
        got = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/sf0.01/{t}.parquet'")
    bad = 0
    for name in sorted(got):
        if name not in oracle:
            print(f"FAIL  {name}: no oracle SQL in the registry")
            bad += 1
            continue
        gcols, grows = canon(con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'"))
        ecols, erows = canon(con.sql(oracle[name]))
        if gcols != ecols or grows != erows:
            print(f"FAIL  {name}: engine {len(grows)} rows {gcols} != oracle "
                  f"{len(erows)} rows {ecols}")
            bad += 1
        else:
            print(f"ok    {name}: {len(grows)} rows, hash {got[name][1]}")
    if bad:
        sys.exit(f"{bad} queries disagree with the oracle")
    path = os.path.join(data, "expected.json")
    if a.write:
        with open(path, "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {path}")
    else:
        with open(path) as f:
            committed = json.load(f)
        if committed != got:
            sys.exit(f"{path} differs from the oracle-checked results: {got}")
        print(f"{path} matches")


if __name__ == "__main__":
    main()
