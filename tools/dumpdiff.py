#!/usr/bin/env python3
"""Compare two Verify dumps query by query: the result a change writes
must be the result its parent wrote.

Usage: python3 tools/dumpdiff.py <parentDir> <changeDir> [query...]

Each dir is a `graft.Verify` output (one parquet dir per query). With no
query names, every query dir found in either dump is compared. Per
query it checks, in DuckDB:

  - the parquet schema: column names, order, physical and logical
    types, and nullability (REQUIRED vs OPTIONAL);
  - the row count;
  - the rows as multisets: `EXCEPT ALL` in both directions.

It prints one line per query and exits 1 if any query differs or is
missing from either dump.
"""
import os
import sys

import duckdb


def query_dirs(root):
    return {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}


def schema(con, path):
    return con.sql(
        "SELECT name, type, repetition_type, converted_type, logical_type "
        f"FROM parquet_schema('{path}') WHERE name <> 'spark_schema'").fetchall()


def first_file(con, glob):
    # the schema of one file stands for the dir: Verify writes one
    return con.sql(f"SELECT file FROM glob('{glob}') ORDER BY file LIMIT 1").fetchone()[0]


def compare(con, a_dir, b_dir):
    a_glob, b_glob = f"{a_dir}/*.parquet", f"{b_dir}/*.parquet"
    problems = []
    sa, sb = schema(con, first_file(con, a_glob)), schema(con, first_file(con, b_glob))
    if sa != sb:
        problems.append(f"schema: parent={sa} change={sb}")
    na = con.sql(f"SELECT count(*) FROM '{a_glob}'").fetchone()[0]
    nb = con.sql(f"SELECT count(*) FROM '{b_glob}'").fetchone()[0]
    if na != nb:
        problems.append(f"rows: parent={na} change={nb}")
    if sa == sb:
        only_a = con.sql(f"SELECT count(*) FROM (FROM '{a_glob}' EXCEPT ALL FROM '{b_glob}')").fetchone()[0]
        only_b = con.sql(f"SELECT count(*) FROM (FROM '{b_glob}' EXCEPT ALL FROM '{a_glob}')").fetchone()[0]
        if only_a or only_b:
            problems.append(f"rows only in parent={only_a}, only in change={only_b}")
    return na, problems


def main():
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    parent, change = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or sorted(query_dirs(parent) | query_dirs(change))
    con = duckdb.connect()
    same = differ = 0
    for name in names:
        a, b = os.path.join(parent, name), os.path.join(change, name)
        missing = [side for side, d in (("parent", a), ("change", b)) if not os.path.isdir(d)]
        if missing:
            problems, rows = [f"no output dir in {' and '.join(missing)}"], "?"
        else:
            rows, problems = compare(con, a, b)
        if problems:
            differ += 1
            print(f"DIFF      {name}")
            for p in problems:
                print(f"  - {p[:300]}")
        else:
            same += 1
            print(f"identical {name} ({rows} rows)")
    print(f"\n{same} identical, {differ} differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
