#!/usr/bin/env python3
"""Content digest of every graft.Verify entry, oracled or rows-only:
SHA-256 over the entry's rows rendered as check_oracle.py renders them
(columns by name) and then sorted, so row order does not count.

Usage: output_digests.py <verify_out> [<other_verify_out>]

With one dump, prints `<digest> <rows> <entry>` per entry. With two,
prints the entries whose digests differ (or that only one dump has)
and exits 1 if there are any.
"""
import sys, glob, os, hashlib

import pyarrow.parquet as pq

from check_oracle import lines


def digests(out_dir):
    """entry name -> (digest, row count) for each entry directory."""
    out = {}
    for name in sorted(os.listdir(out_dir)):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            continue
        rendered = []
        for f in files:
            tbl = pq.read_table(f)
            cols = tbl.column_names
            rendered += lines(cols, [tuple(r[c] for c in cols) for r in tbl.to_pylist()])
        rendered.sort()
        out[name] = (hashlib.sha256("\n".join(rendered).encode()).hexdigest(), len(rendered))
    return out


def main(args):
    if len(args) == 1:
        for name, (d, n) in digests(args[0]).items():
            print(f"{d} {n} {name}")
        return 0
    a, b = digests(args[0]), digests(args[1])
    differ = sorted(n for n in a.keys() | b.keys() if a.get(n) != b.get(n))
    for name in differ:
        da, db = a.get(name), b.get(name)
        show = lambda d: f"{d[0][:16]} ({d[1]} rows)" if d else "missing"
        print(f"DIFF {name}: {show(da)} vs {show(db)}")
    equal = [n for n in a.keys() & b.keys() if a[n] == b[n]]
    print(f"{len(equal)}/{len(a.keys() | b.keys())} entries equal")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1:]))
