#!/usr/bin/env python3
"""check_oracle.py variant emitting the driver's CORRECTNESS JSON format:
{query: {rows_match, schema_match, hash_match, spark_rows, oracle_rows,
err}} — used for the one-off bench-scale (sf0.1) oracle validation the
round-6 verdict asked for (the driver itself only gates sf0.01).
Usage: check_oracle_json.py <sfdir> <verify_outdir> > CORRECTNESS_sfX.json

A long-lived DuckDB connection has been observed to die with
"Out of Memory Error ... (bad allocation)" dozens of heavy oracle
queries in, on a box with >100 GB free — connection-accumulated state,
not real memory pressure (the same query passes immediately on a fresh
connection). Each query therefore retries ONCE on a fresh connection
before its error is recorded.
"""
import sys, json, glob, os, math
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]


def fresh_con():
    """A DuckDB connection with one view per sf table."""
    c = duckdb.connect()
    for p in glob.glob(f"{sfdir}/*.parquet"):
        # ScaleProbe-replicated tables are Spark-written DIRECTORIES of parts
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        c.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{src}'")
    return c


con = fresh_con()
oracles = json.load(open(f"{outdir}/oracle_sql.json"))
out = {}


def check(name, d, rec):
    global con
    got = con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
    rec["spark_rows"] = len(got)
    if name not in oracles:
        rec["err"] = "rows-only (no oracle SQL declared)"
        rec["rows_match"] = len(got) > 0
        return
    exp = con.execute(oracles[name]).fetchdf()
    rec["oracle_rows"] = len(exp)
    gc, ec = sorted(got.columns), sorted(exp.columns)
    rec["schema_match"] = gc == ec
    rec["rows_match"] = len(got) == len(exp)
    if not (rec["schema_match"] and rec["rows_match"]):
        return
    g = got[gc].sort_values(gc).reset_index(drop=True)
    e = exp[gc].sort_values(gc).reset_index(drop=True)
    ok = True
    for c in gc:
        gv, ev = g[c].tolist(), e[c].tolist()
        # float columns: one-ULP noise from summation order / libm
        # differences is benign — compare with a tight relative
        # tolerance; everything else stays exact
        is_float = str(g[c].dtype).startswith("float")
        for a, b in zip(gv, ev):
            if (a == b) or (a != a and b != b) or (a is None and b is None):
                continue
            if is_float and isinstance(a, float) and isinstance(b, float) \
                    and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
                continue
            ok = False
            break
        if not ok:
            break
    rec["hash_match"] = ok


for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    rec = {"rows_match": False, "schema_match": False, "hash_match": False,
           "spark_rows": None, "oracle_rows": None, "err": None}
    out[name] = rec
    try:
        check(name, d, rec)
    except Exception:
        try:  # retry once on a fresh connection (see module docstring)
            con.close()
            con = fresh_con()
            check(name, d, rec)
        except Exception as ex:  # oracle error / unreadable parquet
            rec["err"] = str(ex)[:300]

json.dump(out, sys.stdout, indent=2)
print()
n_bad = sum(1 for r in out.values()
            if r["err"] or not (r["rows_match"] and r["schema_match"]
                                and r["hash_match"]))
print(f"# {len(out)} queries, {n_bad} not fully green", file=sys.stderr)
