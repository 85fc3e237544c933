#!/usr/bin/env python3
"""Compare two graft.Verify output directories gate by gate.

Usage: python3 tools/compare_gates.py <parentOut> <changeOut>

Each gate's parquet output is read from both directories, normalized
by tools/check_oracle.py's `normalized` (columns sorted by name, rows
sorted by value), and the two frames compared exactly: same columns,
same dtypes, same values. Every gate that differs, or exists on one side only, is
printed. Exits 1 on any difference, 0 when every gate is row-identical.
"""
import os
import sys

import duckdb
import pandas as pd

from check_oracle import normalized


def gates(out):
    return {d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d))}


def load(con, out, name):
    return normalized(con.sql(f"SELECT * FROM '{os.path.join(out, name)}/*.parquet'").df())


def main(parent, change):
    con = duckdb.connect()
    a, b = gates(parent), gates(change)
    diffs = [(n, "missing in change") for n in sorted(a - b)]
    diffs += [(n, "missing in parent") for n in sorted(b - a)]
    both = sorted(a & b)
    for name in both:
        try:
            pd.testing.assert_frame_equal(
                load(con, parent, name), load(con, change, name), check_exact=True)
        except Exception as e:  # read failure or any frame difference
            diffs.append((name, " | ".join(str(e).splitlines()[:3])))
    for name, msg in diffs:
        print(f"DIFF  {name}: {msg}")
    print(f"\n{len(both) - len([d for d in diffs if d[0] in a & b])}/{len(a | b)} "
          f"gates row-identical")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
