#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query, row for row.

Each dump is the output dir of `sbt "runMain graft.Verify <sfDir> <outDir>"`:
one parquet dir per query. Queries are read with DuckDB in file order (Verify
writes one file per query) and compared exactly: same columns, same row
count, the same values in every row. A refactor that claims identical
answers should diff clean against its parent.

Prints one line per query, identical or the first differing row, and exits
1 if any query differs or exists in only one dump.

Usage: python3 tools/diff_dumps.py <dumpA> <dumpB>
"""
import math
import os
import sys

import duckdb


def queries(dump):
    return {d for d in os.listdir(dump) if os.path.isdir(os.path.join(dump, d))}


def read(con, dump, name):
    rel = con.sql(f"SELECT * FROM read_parquet('{dump}/{name}/*.parquet')")
    return rel.columns, rel.fetchall()


def same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def diff(con, dump_a, dump_b, name):
    """None if the query's dumps are identical, else what differs first."""
    cols_a, rows_a = read(con, dump_a, name)
    cols_b, rows_b = read(con, dump_b, name)
    if cols_a != cols_b:
        return f"columns {cols_a} vs {cols_b}"
    for i, (ra, rb) in enumerate(zip(rows_a, rows_b)):
        if not same(ra, rb):
            return f"row {i}: {ra} vs {rb}"
    if len(rows_a) != len(rows_b):
        return f"rows {len(rows_a)} vs {len(rows_b)}"
    return None


def main(dump_a, dump_b):
    con = duckdb.connect()
    qa, qb = queries(dump_a), queries(dump_b)
    failures = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            print(f"DIFF {name}: only in {dump_a if name in qa else dump_b}")
            failures += 1
            continue
        try:
            d = diff(con, dump_a, dump_b, name)
        except Exception as e:  # an unreadable dump is a difference too
            d = f"read error {e}"
        if d is None:
            print(f"same {name}")
        else:
            print(f"DIFF {name}: {d}")
            failures += 1
    print("IDENTICAL" if failures == 0 else f"{failures} DIFFERENT")
    return 1 if failures else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
