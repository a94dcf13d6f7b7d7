#!/usr/bin/env python3
"""Behaviour check for a refactor: compare two graft.Verify dumps of the
same testdata, one from the commit before the change and one from after.

Exits 0 only if
  1. oracle_sql.json and oracle_pins.json are byte-identical, and
  2. both dumps hold the same query directories, and every query's parquet
     is row-identical: same column names and types, same rows in the same
     order (read with DuckDB in file order).

usage: python3 dev/compare_dumps.py <parentDump> <changeDump>
  e.g. sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/dump_after"
       python3 dev/compare_dumps.py /tmp/dump_before /tmp/dump_after
"""
import os
import sys

import duckdb

ORACLE_FILES = ("oracle_sql.json", "oracle_pins.json")


def queries(dump):
    return sorted(d for d in os.listdir(dump) if os.path.isdir(os.path.join(dump, d)))


def table(con, path):
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    # repr keeps NaN == NaN and tells 1 from 1.0 from '1'
    return rel.columns, [str(t) for t in rel.types], [repr(r) for r in rel.fetchall()]


def main(before, after):
    failures = []
    for f in ORACLE_FILES:
        with open(os.path.join(before, f), "rb") as a, open(os.path.join(after, f), "rb") as b:
            if a.read() != b.read():
                failures.append(f"{f}: bytes differ")
    qa, qb = queries(before), queries(after)
    if qa != qb:
        failures.append(f"query dirs differ: only before {sorted(set(qa) - set(qb))}, "
                        f"only after {sorted(set(qb) - set(qa))}")
    con = duckdb.connect()
    # one thread keeps the multi-file read in file order
    con.execute("SET threads TO 1")
    common = sorted(set(qa) & set(qb))
    same = 0
    for q in common:
        try:
            ca, ta, ra = table(con, os.path.join(before, q))
            cb, tb, rb = table(con, os.path.join(after, q))
        except Exception as e:
            failures.append(f"{q}: unreadable: {e}")
            continue
        if (ca, ta) != (cb, tb):
            failures.append(f"{q}: schema {list(zip(ca, ta))} vs {list(zip(cb, tb))}")
        elif ra != rb:
            first = next((i for i, (x, y) in enumerate(zip(ra, rb)) if x != y), min(len(ra), len(rb)))
            failures.append(f"{q}: rows differ ({len(ra)} vs {len(rb)} rows, first at row {first})")
        else:
            same += 1
    for f in failures:
        print("DIFF", f)
    print(f"{same}/{len(common)} query outputs row-identical")
    return 1 if failures else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
