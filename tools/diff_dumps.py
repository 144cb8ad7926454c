#!/usr/bin/env python3
"""Compare two graft.Verify output trees query by query.

Usage: python3 tools/diff_dumps.py <verify_out_a> <verify_out_b>

`diff -r` cannot compare two dumps: every part file name carries a
random write UUID, and parquet-mr writes each column chunk's encoding
set in an order that varies from JVM to JVM, so the bytes of identical
results differ. This reads each <name>/ parquet dir with pyarrow and
compares the schema and the rows as a sorted multiset (plain files such
as oracle_sql.json byte for byte). Queries whose rows match but in
another file order are listed separately; the oracle gate sorts rows,
so they are equal results. Exits 1 when any entry differs.
"""
import os
import sys

import pyarrow.parquet as pq


def load(path):
    if not os.path.isdir(path):
        with open(path, "rb") as f:
            return f.read(), None
    t = pq.read_table(path)
    return str(t.schema), [tuple(map(repr, r.values())) for r in t.to_pylist()]


def main(a, b):
    names = sorted(set(os.listdir(a)) | set(os.listdir(b)))
    differ, reordered = [], []
    for n in names:
        pa, pb = os.path.join(a, n), os.path.join(b, n)
        if not (os.path.exists(pa) and os.path.exists(pb)):
            differ.append(n)
            continue
        (sa, ra), (sb, rb) = load(pa), load(pb)
        if sa != sb or (ra is not None and sorted(ra) != sorted(rb)):
            differ.append(n)
        elif ra != rb:
            reordered.append(n)
    print(f"{len(names)} entries, {len(differ)} differ, "
          f"{len(reordered)} same rows in another order")
    for n in differ:
        print(f"DIFFER {n}")
    for n in reordered:
        print(f"REORDERED {n}")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
