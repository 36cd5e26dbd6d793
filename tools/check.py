#!/usr/bin/env python3
"""Local dev harness mimicking the driver's correctness gate:
run DuckDB oracle SQL against the fixture parquet tables and compare
with the Verify parquet dumps (columns sorted by name, rows sorted).

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

A named query that has no oracle in <verifyOutDir>/oracle_sql.json is an
error, and a run that compared no query exits nonzero.
"""
import sys, os, json, glob
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(rows, cols):
    # sort columns by name, then rows; stringify for stable compare
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(str(r[i]) for i in order))
    out.sort()
    return [cols[i] for i in order], out

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = n_err = 0
    for name in sorted(only - set(oracles)):
        print(f"UNKNOWN  {name} (no oracle in {out_dir}/oracle_sql.json)")
        n_err += 1
    for name in sorted(oracles):
        if only and name not in only:
            continue
        sql = oracles[name]
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"MISSING  {name} (no spark output)")
            n_err += 1
            continue
        try:
            o = con.execute(sql)
            ocols = [d[0] for d in o.description]
            orows = o.fetchall()
        except Exception as e:
            print(f"ORAERR   {name}: {e}")
            n_err += 1
            continue
        s = con.execute(f"SELECT * FROM read_parquet({files!r})")
        scols = [d[0] for d in s.description]
        srows = s.fetchall()
        oc, orn = norm(orows, ocols)
        sc, srn = norm(srows, scols)
        if oc != sc:
            print(f"SCHEMA   {name}: oracle={oc} spark={sc}")
            n_bad += 1
            continue
        if len(orn) != len(srn):
            print(f"ROWS     {name}: oracle={len(orn)} spark={len(srn)}")
            n_bad += 1
            continue
        diffs = [(i, a, b) for i, (a, b) in enumerate(zip(orn, srn)) if a != b]
        if diffs:
            i, a, b = diffs[0]
            print(f"VALUES   {name}: {len(diffs)} differing rows; first at {i}:")
            print(f"  oracle: {a}")
            print(f"  spark : {b}")
            n_bad += 1
        else:
            print(f"OK       {name} ({len(orn)} rows)")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} mismatched, {n_err} errored")
    if n_ok + n_bad == 0:
        print("nothing was compared")
    sys.exit(1 if (n_bad or n_err or n_ok + n_bad == 0) else 0)

if __name__ == "__main__":
    main()
