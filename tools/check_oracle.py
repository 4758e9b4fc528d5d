#!/usr/bin/env python3
"""Local pre-validation of the declared oracles: run each oracle_sql.json query
in DuckDB over the sf tables and compare with the Verify parquet output,
mimicking the driver's compare (sort columns by name, sort rows, hash values).
Usage: check_oracle.py <sfdir> <verify_outdir>

Besides the per-query lines on stdout, writes <verify_outdir>/oracle_check.json
in the CORRECTNESS record format: {query: {rows_match, schema_match,
hash_match, spark_rows, oracle_rows, err}}, with the same exact value
comparison (hash_match is true only when every value matches exactly).
"""
import sys, json, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]


def connect():
    """A DuckDB connection with one view per sf table."""
    c = duckdb.connect()
    for p in glob.glob(f"{sfdir}/*.parquet"):
        # ScaleProbe-replicated tables are Spark-written DIRECTORIES of parts
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        c.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{src}'")
    return c


con = connect()

oracles = json.load(open(f"{outdir}/oracle_sql.json"))
records = {}
fail = 0
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    rec = records[name] = {"rows_match": False, "schema_match": False,
                           "hash_match": False, "spark_rows": None,
                           "oracle_rows": None, "err": None}
    got = con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
    rec["spark_rows"] = len(got)
    if name not in oracles:
        print(f"[rows-only] {name}: {len(got)} rows")
        rec["err"] = "rows-only (no oracle SQL declared)"
        rec["rows_match"] = len(got) > 0
        continue
    try:
        exp = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        if "Out of Memory" in str(e):
            # long-lived connections accumulate allocator state over a
            # 100+-oracle run and spuriously OOM on arbitrary queries —
            # retry once on a FRESH connection before calling it real
            try:
                con2 = connect()
                exp = con2.execute(oracles[name]).fetchdf()
                got = con2.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
            except Exception as e2:
                print(f"[ORACLE-ERR] {name}: {e2} (after fresh-connection retry)")
                rec["err"] = str(e2)[:300]
                fail += 1
                continue
        else:
            print(f"[ORACLE-ERR] {name}: {e}")
            rec["err"] = str(e)[:300]
            fail += 1
            continue
    rec["oracle_rows"] = len(exp)
    gc, ec = sorted(got.columns), sorted(exp.columns)
    rec["schema_match"] = gc == ec
    rec["rows_match"] = len(got) == len(exp)
    if gc != ec:
        print(f"[SCHEMA] {name}: spark={gc} oracle={ec}")
        fail += 1
        continue
    # dtype-kind comparison (driver may check schema strictly)
    kinds = lambda df: {c: df[c].dtype.kind for c in gc}
    gk, ek = kinds(got), kinds(exp)
    if gk != ek:
        diff = {c: (gk[c], ek[c]) for c in gc if gk[c] != ek[c]}
        print(f"[DTYPE] {name}: {diff}")
    g = got[gc].sort_values(gc).reset_index(drop=True)
    e = exp[gc].sort_values(gc).reset_index(drop=True)
    if len(g) != len(e):
        print(f"[ROWS] {name}: spark={len(g)} oracle={len(e)}")
        fail += 1
        continue
    # value compare: exact on non-floats, exact-repr on floats (driver hashes)
    bad = []
    for c in gc:
        gv, ev = g[c].tolist(), e[c].tolist()
        for i, (a, b) in enumerate(zip(gv, ev)):
            ok = (a == b) or (a != a and b != b) or (a is None and b is None)
            if not ok:
                bad.append((c, i, a, b))
                if len(bad) > 3:
                    break
        if len(bad) > 3:
            break
    rec["hash_match"] = not bad
    if bad:
        print(f"[VALUES] {name}: {bad[:4]}")
        fail += 1
    else:
        print(f"[OK] {name}: {len(g)} rows")
with open(f"{outdir}/oracle_check.json", "w") as f:
    json.dump(records, f, indent=2)
    f.write("\n")
print("FAILURES:", fail)
sys.exit(1 if fail else 0)
