#!/usr/bin/env python3
"""Content digest of a persisted log store (the `graft_state/<name>-<tag>`
dirs the IVM, compaction and live-sink stores write). Usage:

  python3 tools/store_digest.py <storeRoot>            # print the digest
  python3 tools/store_digest.py <rootA> <rootB>        # print differences

For every partition dir (`gen=<n>`, `batch=<n>`, `v=<n>`, under the root
or under one of its sub-dirs such as `deltas`/`postings`/`docs`) it prints
the row count and a row-order-independent hash: the sum, mod 2^64, of
DuckDB's hash over all the partition's columns (taken in name order). Two
builds that write the same rows into different part files, in a
different order, digest the same; a changed value, row count or column
type does not.

With two roots only the partitions that differ (or exist on one side)
are printed, and the exit status is 1 if there is any difference.
"""
import os
import re
import sys

import duckdb

PART = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*=")


def partitions(root):
    """Relative paths of the top-most `key=value` dirs under root."""
    out = []
    for dirpath, dirnames, _ in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith((".", "_")))
        for d in list(dirnames):
            if PART.match(d):
                out.append(os.path.relpath(os.path.join(dirpath, d), root))
                dirnames.remove(d)  # nested partitions belong to this one
    return sorted(out)


def digest(con, root):
    rows = {}
    for rel in partitions(root):
        path = os.path.join(root, rel)
        files = sorted(
            os.path.join(dp, f)
            for dp, dns, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not files:
            rows[rel] = (0, 0, "")
            continue
        src = ("read_parquet([" + ", ".join(f"'{f}'" for f in files) +
               "], hive_partitioning = false, union_by_name = true)")
        cols = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall())
        args = ", ".join(f'"{c}"' for c in cols)
        n, h = con.execute(
            f"SELECT count(*), coalesce(sum(hash({args})), 0) FROM {src}").fetchone()
        rows[rel] = (n, int(h) % (1 << 64), ",".join(cols))
    return rows


def line(rel, v):
    return f"{rel}\t{v[0]}\t{v[1]:016x}\t{v[2]}"


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    con = duckdb.connect()
    a = digest(con, sys.argv[1])
    if len(sys.argv) == 2:
        for rel, v in a.items():
            print(line(rel, v))
        return 0
    b = digest(con, sys.argv[2])
    diffs = 0
    for rel in sorted(a.keys() | b.keys()):
        va, vb = a.get(rel), b.get(rel)
        if va == vb:
            continue
        diffs += 1
        print(f"< {line(rel, va)}" if va else f"< {rel}\t(absent)")
        print(f"> {line(rel, vb)}" if vb else f"> {rel}\t(absent)")
    print(f"{len(a.keys() | b.keys())} partitions, {diffs} differ", file=sys.stderr)
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
