#!/usr/bin/env python3
"""Bit-exact comparison of two graft.Verify output directories.

Usage: python3 tools/diff_verify.py <parentOut> <changeOut> [entry...]

Each entry is the parquet directory graft.Verify writes per registered
query. For every entry (all entries found in either directory when none
are named) the two outputs must have the same schema and the same rows.
Rows are compared as a multiset, value for value: floats by their exact
bits (float.hex), never rounded — tools/check_oracle.py rounds to 6 dp,
so it cannot show that a refactor left every output unchanged.

Prints one line per entry that differs or is missing on one side, then a
summary; exits 1 when any entry is not identical.
"""
import datetime
import decimal
import os
import sys

import pyarrow.parquet as pq


def canon(v):
    """A hashable, exact, order-comparable form of one parquet value."""
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("f", v.hex())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (str, bytes)):
        return ("s", v if isinstance(v, str) else v.hex())
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, (datetime.date, datetime.datetime, datetime.time,
                      datetime.timedelta)):
        return ("t", v.isoformat() if hasattr(v, "isoformat") else str(v))
    if isinstance(v, dict):
        return ("m", tuple((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        # map columns arrive as lists of (key, value) tuples
        return ("l", tuple(canon(x) for x in v))
    return ("o", repr(v))


def read(path):
    table = pq.read_table(path)
    rows = sorted(tuple(canon(r[c]) for c in table.column_names)
                  for r in table.to_pylist())
    return str(table.schema), rows


def entries(out_dir):
    return {e for e in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, e))}


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    parent, change = argv[1], argv[2]
    names = argv[3:] or sorted(entries(parent) | entries(change))
    n_same = 0
    bad = []
    for name in names:
        a, b = os.path.join(parent, name), os.path.join(change, name)
        missing = [d for d, p in (("parent", a), ("change", b))
                   if not os.path.isdir(p)]
        if missing:
            bad.append(f"{name}: missing in {' and '.join(missing)}")
            continue
        (sa, ra), (sb, rb) = read(a), read(b)
        if sa != sb:
            bad.append(f"{name}: schema differs\n  parent: {sa!r}\n"
                       f"  change: {sb!r}")
        elif ra != rb:
            only_a = len(set(ra) - set(rb))
            only_b = len(set(rb) - set(ra))
            bad.append(f"{name}: rows differ ({len(ra)} vs {len(rb)} rows;"
                       f" {only_a} only in parent, {only_b} only in change)")
        else:
            n_same += 1
    for line in bad:
        print(line)
    print(f"{n_same} identical, {len(bad)} differ or missing "
          f"of {len(names)} entries")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
