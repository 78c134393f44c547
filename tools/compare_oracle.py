#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare: for each query in
oracle_sql.json or with a dir under OUTDIR, load the Spark parquet result
and run the oracle SQL against the same sf tables, sort columns by name,
sort rows, and compare values. A query with an oracle but no output (it
threw before writing) is a failure. Usage: compare_oracle.py SFDIR OUTDIR"""
import sys, os, json, glob
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = ok = 0
dirs = {n for n in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, n))}
for name in sorted(dirs | set(oracle)):
    qdir = os.path.join(outdir, name)
    if not glob.glob(f"{qdir}/*.parquet"):
        print(f"{name}: NO SPARK OUTPUT")
        fails += 1
        continue
    got = con.sql(f"SELECT * FROM '{qdir}/*.parquet'").df()
    if name not in oracle:
        print(f"{name}: rows-only ({len(got)} rows)")
        if len(got) == 0:
            print(f"  WARN: zero rows")
        continue
    exp = con.sql(oracle[name]).df()
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        print(f"{name}: SCHEMA MISMATCH spark={gc} oracle={ec}")
        fails += 1
        continue
    g = got[gc].sort_values(gc).reset_index(drop=True)
    e = exp[ec].sort_values(ec).reset_index(drop=True)
    if len(g) != len(e):
        print(f"{name}: ROWCOUNT MISMATCH spark={len(g)} oracle={len(e)}")
        fails += 1
        continue
    # stringify like a hash compare would
    gs = g.astype(str).values.tolist()
    es = e.astype(str).values.tolist()
    if gs != es:
        print(f"{name}: VALUE MISMATCH")
        for i, (a, b) in enumerate(zip(gs, es)):
            if a != b:
                print(f"  row {i}: spark={a} oracle={b}")
                if i > 3:
                    break
        fails += 1
    else:
        print(f"{name}: OK ({len(g)} rows)")
        ok += 1
print("OK:", ok, "FAILURES:", fails)
sys.exit(1 if fails else 0)
