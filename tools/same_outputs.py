#!/usr/bin/env python3
"""Compare two graft.Verify output directories op by op.

usage: tools/same_outputs.py <parent_vout> <change_vout> [ops...]

For every op directory (or only the named ops) the parquet schema and rows
must be equal (pyarrow.Table.equals; row order is ignored when one side is
only a reordering of the other). oracle_sql.json and oracle_sql_scale.json
must match per op byte for byte; an oracle that differs in whitespace only
is counted but accepted. plans.json (each op's normalized optimized plan)
must match per op byte for byte when both sides have one. Prints one line
per differing op and exits 1 when any op differs, 0 otherwise.
"""
import json
import os
import re
import sys

import pyarrow.parquet as pq


def op_dirs(root):
    return {n for n in os.listdir(root)
            if os.path.isdir(os.path.join(root, n))
            and any(f.endswith(".parquet") for f in os.listdir(os.path.join(root, n)))}


def sorted_rows(t):
    keys = [(c, "ascending") for c, ty in zip(t.column_names, t.schema.types)
            if not (str(ty).startswith(("list", "large_list", "struct", "map")))]
    return t.sort_by(keys) if keys else t


def compare_table(a_dir, b_dir):
    a, b = pq.read_table(a_dir), pq.read_table(b_dir)
    if not a.schema.equals(b.schema):
        return f"schema differs: {a.schema.to_string(show_schema_metadata=False)!r}" \
               f" vs {b.schema.to_string(show_schema_metadata=False)!r}"
    if a.num_rows != b.num_rows:
        return f"row count differs: {a.num_rows} vs {b.num_rows}"
    if a.equals(b) or sorted_rows(a).equals(sorted_rows(b)):
        return None
    return f"rows differ ({a.num_rows} rows each)"


def squash(s):
    return re.sub(r"\s+", " ", s).strip()


def main(argv):
    if len(argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    parent, change, only = argv[0], argv[1], set(argv[2:])
    diffs = {}
    pa, ch = op_dirs(parent), op_dirs(change)
    ops = sorted((pa | ch) if not only else only)
    for op in ops:
        if op not in pa or op not in ch:
            diffs.setdefault(op, []).append(
                "output missing in " + ("parent" if op not in pa else "change"))
            continue
        why = compare_table(os.path.join(parent, op), os.path.join(change, op))
        if why:
            diffs.setdefault(op, []).append(why)
    ws_only = {}
    for fname in ("oracle_sql.json", "oracle_sql_scale.json"):
        a = json.load(open(os.path.join(parent, fname)))
        b = json.load(open(os.path.join(change, fname)))
        keys = sorted((a.keys() | b.keys()) if not only else only & (a.keys() | b.keys()))
        for k in keys:
            if k not in a or k not in b:
                diffs.setdefault(k, []).append(
                    f"{fname} entry missing in " + ("parent" if k not in a else "change"))
            elif a[k] != b[k]:
                if squash(a[k]) == squash(b[k]):
                    ws_only.setdefault(fname, []).append(k)
                else:
                    diffs.setdefault(k, []).append(f"{fname} differs beyond whitespace")
    plans = [os.path.join(d, "plans.json") for d in (parent, change)]
    if all(os.path.exists(p) for p in plans):
        a, b = (json.load(open(p)) for p in plans)
        for k in sorted(only & (a.keys() | b.keys()) if only else a.keys() | b.keys()):
            if k not in a or k not in b:
                diffs.setdefault(k, []).append(
                    "plans.json entry missing in " + ("parent" if k not in a else "change"))
            elif a[k] != b[k]:
                diffs.setdefault(k, []).append("optimized plan differs")
    for op in sorted(diffs):
        print(f"DIFF {op}: " + "; ".join(diffs[op]))
    ws = ", ".join(f"{f} {len(v)}" for f, v in sorted(ws_only.items())) or "none"
    print(f"same_outputs: {len(ops)} op outputs compared, {len(diffs)} ops differ; "
          f"whitespace-only oracle changes: {ws}")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
