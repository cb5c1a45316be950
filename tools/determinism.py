#!/usr/bin/env python3
"""Suite-wide determinism sweep: prove every operator's RESULT VALUES are
independent of the shuffle-partition count (the knob that changes
partitioning, partial-agg merge order, and AQE's runtime re-plans).

The engine's per-op determinism discipline (round-once, DECIMAL sums,
fixed-point lanes, total-order ties) is spec-pinned locally but this is
the suite-wide artifact: run graft.Verify twice under different
spark.sql.shuffle.partitions values, then hash each op's result as a
column-sorted, row-sorted multiset (file order and row order inside
parquet parts are partitioning artifacts; VALUES must be identical). Any
mismatch is a latent partition-order dependence — the bug class the Det
layer exists to kill.

Usage: python3 tools/determinism.py <outDirA> <outDirB> <reportJson>
  (each outDir is a graft.Verify output directory)

Inputs under AQE's partition floor
(spark.sql.adaptive.coalescePartitions.minPartitionSize, 1 MB) run as
one stage whatever the shuffle width (graft.plans.SmallInputSinglePartition),
so at sf0.01 a width-only sweep leaves most ops on one partition. The
sweep that varies both paths compares Verify at default settings with
Verify at width 32 and the floor at 1 byte, which puts every op back on
its exchange-planned path:

  tools/run_graft.sh graft.Verify <sf0.01 dir> /tmp/det-a
  tools/run_graft.sh -Dspark.sql.shuffle.partitions=32 \
    -Dspark.sql.adaptive.coalescePartitions.minPartitionSize=1b \
    graft.Verify <sf0.01 dir> /tmp/det-b
  python3 tools/determinism.py /tmp/det-a /tmp/det-b /tmp/det.json

The input-split axis (-Dspark.sql.files.maxPartitionBytes=16m vs the
128m default)
likewise varies nothing below the floor, where each scan is coalesced to
one partition whatever its split count: sweep it with the same
-D...minPartitionSize=1b flag on both runs.

The codegen axis compares default Verify (whole-stage codegen, generated
expressions) with Verify on the interpreted paths only: every native
graft_* kernel then runs through its eval, every other expression
through Spark's interpreted fallback:

  tools/run_graft.sh -Dspark.sql.codegen.wholeStage=false \
    -Dspark.sql.codegen.factoryMode=NO_CODEGEN \
    graft.Verify <sf0.01 dir> /tmp/det-c
  python3 tools/determinism.py /tmp/det-a /tmp/det-c /tmp/det-cg.json

The join axis compares default Verify, where a small-input join over
single-partition inputs plans no exchange (GraftSession sets
spark.sql.maxSinglePartitionBytes to its maximum), with Verify under
Spark's 128m default, whose size guard hash-shuffles a join's inputs
once their estimated sizes (a product of sizes for a join below it)
pass 128 MB:

  tools/run_graft.sh -Dspark.sql.maxSinglePartitionBytes=128m \
    graft.Verify <sf0.01 dir> /tmp/det-j
  python3 tools/determinism.py /tmp/det-a /tmp/det-j /tmp/det-join.json
"""
import glob
import hashlib
import json
import math
import os
import sys

import pyarrow.parquet as pq


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr() round-trips doubles exactly; 0.0 == -0.0 would compare
        # equal but hash differently via repr, so canonicalize the sign
        return repr(v + 0.0)
    if hasattr(v, "isoformat"):
        s = v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return s.replace("+00:00", "")
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def result_hash(outdir, name):
    files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
    if not files:
        return None
    t = pq.read_table(f"{outdir}/{name}")
    cols = sorted(t.column_names)
    rows = sorted(repr(tuple(norm(r[c]) for c in cols)) for r in t.to_pylist())
    h = hashlib.sha256()
    h.update(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"rows": len(rows), "hash": h.hexdigest()}


def main():
    a, b, out_path = sys.argv[1], sys.argv[2], sys.argv[3]
    ops = sorted(
        d for d in os.listdir(a)
        if os.path.isdir(os.path.join(a, d)))
    report, n_match, n_diff, n_missing = {}, 0, 0, 0
    for op in ops:
        ha, hb = result_hash(a, op), result_hash(b, op)
        if ha is None or hb is None:
            report[op] = {"match": None, "err": "missing_output"}
            n_missing += 1
            continue
        ok = ha["hash"] == hb["hash"]
        report[op] = {"match": ok, "rows_a": ha["rows"], "rows_b": hb["rows"],
                      "hash_a": ha["hash"], "hash_b": hb["hash"]}
        if ok:
            n_match += 1
        else:
            n_diff += 1
            print(f"DIFF {op}: {ha['rows']} vs {hb['rows']} rows")
    summary = {"ops": len(ops), "match": n_match, "diff": n_diff,
               "missing": n_missing, "dir_a": a, "dir_b": b}
    with open(out_path, "w") as f:
        json.dump({"summary": summary, "results": report}, f, indent=1,
                  sort_keys=True)
    print(json.dumps(summary))
    sys.exit(0 if n_diff == 0 and n_missing == 0 else 1)


if __name__ == "__main__":
    main()
