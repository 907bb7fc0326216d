#!/usr/bin/env python3
"""Compare two graft.Verify dump directories entry by entry.

Usage: python3 dev/compare_dumps.py <dumpA> <dumpB>

Every entry is a parquet directory that `graft.Verify` wrote (one query
each). Rows are compared in file order, at full precision: doubles must be
bit-identical (NaN equals NaN; 0.0 and -0.0 differ), nested values compare
element by element. Column names and types must match; nullability and
file metadata are not compared. Prints one line per entry, `identical` or
the first difference, then a summary. Exits 1 if any entry differs, has
other columns, or exists in only one dump; 0 when every entry is identical.
"""
import glob
import math
import os
import struct
import sys

import pyarrow.parquet as pq


def entries(d):
    return {n for n in os.listdir(d) if glob.glob(os.path.join(d, n, "*.parquet"))}


def read(d, name):
    # Verify coalesces each entry to one part file; sorting the names keeps
    # a multi-file dump in write order too
    files = sorted(glob.glob(os.path.join(d, name, "*.parquet")))
    return [pq.read_table(f) for f in files]


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return struct.pack("<d", a) == struct.pack("<d", b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return type(a) is type(b) and a == b


def compare(da, db, name):
    """None when identical, else a one-line description of the first difference."""
    ta, tb = read(da, name), read(db, name)
    sa, sb = ta[0].schema, tb[0].schema
    cols_a = [(f.name, str(f.type)) for f in sa]
    cols_b = [(f.name, str(f.type)) for f in sb]
    if cols_a != cols_b:
        return f"columns {cols_a} vs {cols_b}"
    rows_a = [r for t in ta for r in t.to_pylist()]
    rows_b = [r for t in tb for r in t.to_pylist()]
    for i, (ra, rb) in enumerate(zip(rows_a, rows_b)):
        for c in sa.names:
            if not same(ra[c], rb[c]):
                return f"row {i} column {c}: {ra[c]!r} vs {rb[c]!r}"
    if len(rows_a) != len(rows_b):
        return f"rows {len(rows_a)} vs {len(rows_b)} (first {min(len(rows_a), len(rows_b))} equal)"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip())
    da, db = sys.argv[1], sys.argv[2]
    ea, eb = entries(da), entries(db)
    bad = 0
    for name in sorted(ea | eb):
        if name not in eb:
            print(f"DIFF {name}: only in {da}")
        elif name not in ea:
            print(f"DIFF {name}: only in {db}")
        else:
            diff = compare(da, db, name)
            if diff is None:
                print(f"SAME {name}: identical")
                continue
            print(f"DIFF {name}: {diff}")
        bad += 1
    total = len(ea | eb)
    print(f"{total - bad}/{total} identical")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
