#!/usr/bin/env python3
"""Compare two graft.Verify output trees gate by gate, strictly: the same
gates, the same columns in the same order with the same types, and the
same rows in the same order. check_oracle.py sorts column names and
compares values against DuckDB; this script shows whether a change's
output is identical to another build's output.

Usage: python3 scripts/diff_outputs.py <dirA> <dirB> [prefix,prefix,...]
(each dir from `sbt "runMain graft.Verify <sfDir> <dir> [prefixes]"`).
Prints one `SAME <gate>` or `DIFF <gate>: <why>` line per gate found under
either tree (a gate under only one tree is a DIFF), so one run shows every
gate a change touched. Exit 0 when every gate matches, else 1.
"""
import math
import os
import sys

import pandas as pd
import pyarrow.parquet as pq


def gates(out_dir, prefixes):
    return sorted(
        d for d in os.listdir(out_dir)
        if os.path.isdir(os.path.join(out_dir, d)) and not d.startswith((".", "_"))
        and (not prefixes or d.startswith(tuple(prefixes))))


def canon(v):
    """One string per cell; ints and floats stay apart, NaN/None are NULL."""
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"{type(v).__name__}:{v!r}"


def diff_gate(path_a, path_b):
    """None when the gate outputs are identical, else the first difference."""
    ta, tb = pq.read_table(path_a), pq.read_table(path_b)
    sa = [(f.name, str(f.type)) for f in ta.schema]
    sb = [(f.name, str(f.type)) for f in tb.schema]
    if sa != sb:
        return f"schema {sa} vs {sb}"
    if ta.num_rows != tb.num_rows:
        return f"rows {ta.num_rows} vs {tb.num_rows}"
    a, b = ta.to_pandas(), tb.to_pandas()
    for i, c in enumerate(a.columns):
        ca = [canon(v) for v in a.iloc[:, i].tolist()]
        cb = [canon(v) for v in b.iloc[:, i].tolist()]
        if ca != cb:
            r = next(j for j in range(len(ca)) if ca[j] != cb[j])
            return f"col {c} row {r}: {ca[r]} vs {cb[r]}"
    return None


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__)
    dir_a, dir_b = argv[1], argv[2]
    prefixes = [p for p in argv[3].split(",") if p] if len(argv) == 4 else []
    ga, gb = gates(dir_a, prefixes), gates(dir_b, prefixes)
    every = sorted(set(ga) | set(gb))
    if not every:
        print("DIFF: no gate outputs to compare")
        return 1
    same = 0
    for g in every:
        if g not in gb or g not in ga:
            why = f"only under {dir_a if g in ga else dir_b}"
        else:
            why = diff_gate(os.path.join(dir_a, g), os.path.join(dir_b, g))
        if why is None:
            same += 1
            print(f"SAME {g}")
        else:
            print(f"DIFF {g}: {why}")
    print(f"{same}/{len(every)} gates identical")
    return 0 if same == len(every) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
