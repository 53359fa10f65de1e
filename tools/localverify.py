#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: reads the Verify
output dir (parquet per query + oracle_sql.json), runs each oracle in
DuckDB over the same testdata tables, and compares rows/schema/values.

Usage: python3 tools/localverify.py [sfdir] [outdir] [query...]

A query whose MANIFEST.jsonl line reads "held" > 0 (persistent RDDs
left after its scope closed) is listed and fails.

Full runs (no query filter) ALSO mirror the result in the driver's
exact per-query artifact schema ({"rows_match","schema_match",
"hash_match","err"}) to $CORRECTNESS_LOCAL_OUT (default
CORRECTNESS_LOCAL.json in the cwd) — the official driver artifact has
shipped empty three rounds out of four (VERDICT r14 #1), so the round
record must carry the hard signal in the official shape regardless.
"""
import json, os, sys

import duckdb

SFDIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
ONLY = set(sys.argv[3:])

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS FROM '{SFDIR}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
if not oracle:
    print("FATAL: oracle_sql.json is empty — the dump is broken, not green")
    sys.exit(2)

# Completeness gate (VERDICT r11: the official artifact came back `{}`).
# A full dump must carry a MANIFEST whose entries cover every oracle
# query with ok=true; a dump with fewer query dirs than oracle entries
# must fail LOUDLY rather than quietly verify the subset.
if not ONLY:
    import os
    manifest = {}
    try:
        for line in open(f"{OUT}/MANIFEST.jsonl"):
            row = json.loads(line)
            manifest[row["query"]] = row
    except FileNotFoundError:
        print("WARN: no MANIFEST.jsonl (pre-r12 dump) — falling back to dir count")
    if manifest:
        missing = sorted(set(oracle) - set(manifest))
        not_ok = sorted(q for q in oracle if manifest.get(q, {}).get("ok") is not True)
        if missing or not_ok:
            print(f"FATAL: manifest incomplete — {len(missing)} queries never ran "
                  f"{missing[:8]}, {len(not_ok)} not ok {not_ok[:8]}")
            sys.exit(2)
    dirs = {d for d in os.listdir(OUT) if os.path.isdir(os.path.join(OUT, d))}
    missing_dirs = sorted(set(oracle) - dirs)
    if missing_dirs:
        print(f"FATAL: {len(missing_dirs)} oracle queries have no output dir: "
              f"{missing_dirs[:8]}")
        sys.exit(2)

# Release gate: Verify records, per query, the persistent RDDs still
# held once the query's scope has closed. Any above 0 is an
# intermediate that outlived its query; the query fails here.
held = {}
try:
    for line in open(f"{OUT}/MANIFEST.jsonl"):
        row = json.loads(line)
        if row.get("held", 0) > 0 and (not ONLY or row["query"] in ONLY):
            held[row["query"]] = row["held"]
except FileNotFoundError:
    pass
if held:
    print(f"HELD: {len(held)} queries left persistent RDDs after their scope:")
    for q, n in held.items():
        print(f"  held {q}: {n}")

def norm(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

ok = fail = 0
record = {}
for name, sql in sorted(oracle.items()):
    if ONLY and name not in ONLY:
        continue
    rec = {"rows_match": False, "schema_match": False,
           "hash_match": False, "err": None}
    record[name] = rec
    try:
        got = con.sql(f"FROM '{OUT}/{name}/*.parquet'").df()
    except Exception as e:
        rec["err"] = f"spark output missing: {e}"[:300]
        print(f"FAIL {name}: spark output missing: {e}")
        fail += 1
        continue
    try:
        exp = con.sql(sql).df()
    except Exception as e:
        rec["err"] = f"oracle SQL error: {str(e).splitlines()[0][:200]}"
        print(f"FAIL {name}: oracle SQL error: {str(e).splitlines()[0][:200]}")
        fail += 1
        continue
    problems = []
    if sorted(got.columns) != sorted(exp.columns):
        problems.append(f"schema cols: spark={sorted(got.columns)} duck={sorted(exp.columns)}")
    elif len(got) != len(exp):
        rec["schema_match"] = True
        problems.append(f"rows: spark={len(got)} duck={len(exp)}")
    else:
        rec["rows_match"] = True
        dtype_ok = values_ok = True
        g, e2 = norm(got), norm(exp)
        for c in g.columns:
            a, b = g[c], e2[c]
            if str(a.dtype) != str(b.dtype):
                dtype_ok = False
                problems.append(f"dtype[{c}]: spark={a.dtype} duck={b.dtype}")
            neq = ~((a == b) | (a.isna() & b.isna()))
            if neq.any():
                values_ok = False
                i = neq.idxmax()
                problems.append(f"values[{c}]: {int(neq.sum())} diffs, first at row {i}: spark={a[i]!r} duck={b[i]!r}")
        rec["schema_match"] = dtype_ok
        rec["hash_match"] = dtype_ok and values_ok
    if name in held:
        problems.append(f"held: {held[name]} persistent RDDs after the query's scope")
    if problems:
        fail += 1
        rec["err"] = "; ".join(p[:160] for p in problems[:4])
        print(f"FAIL {name}")
        for p in problems[:4]:
            print(f"  - {p}")
    else:
        ok += 1
        print(f"ok   {name} ({len(got)} rows)")

if not ONLY:
    mirror = os.environ.get("CORRECTNESS_LOCAL_OUT", "CORRECTNESS_LOCAL.json")
    with open(mirror, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(f"wrote {mirror} ({len(record)} queries)")

print(f"\n{ok} ok, {fail} fail")
sys.exit(1 if fail else 0)
