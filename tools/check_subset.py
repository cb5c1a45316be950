#!/usr/bin/env python3
"""Per-op DuckDB oracle check with a hard timeout, merged into one
CORRECTNESS_sfN.json-style artifact.

check.py runs all requested oracles in one process; at sf10 a single
heavy oracle (recursive closure, 400M-pair pagerank) could stall the
whole gate. This wrapper runs check.py once per op in its own process
(cwd = a scratch dir so DuckDB's .tmp spill never lands in the repo),
kills it at the timeout, and records {"err": "oracle_timeout"} for that
op instead of blocking the rest.

Usage: python3 tools/check_subset.py <sfDir> <verifyOutDir> <outJson> <op> [op...]
Env: GRAFT_CHECK_TIMEOUT secs (default 1800).
     GRAFT_CHECK_FLAGS extra check.py flags, space-split (e.g.
     "--scale-oracles --bighash 2000000" for the replicated scale gates).

Oracle-capacity classes are recorded uniformly with match fields null and
`err` alone carrying the class (no half-failure rows):
- oracle_timeout: the per-op wall clock expired;
- oracle_oom: the child died without producing a report (an oom-killed
  DuckDB child exits on a signal with empty stderr);
- check_crash: the child died with diagnostics (a genuine harness bug).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

NULL_ROW = {"rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None}


def main():
    sf_dir, vout, out_path = sys.argv[1], sys.argv[2], sys.argv[3]
    ops = sys.argv[4:]
    timeout = int(os.environ.get("GRAFT_CHECK_TIMEOUT", "1800"))
    flags = os.environ.get("GRAFT_CHECK_FLAGS", "").split()
    report = {}
    for op in ops:
        scratch = tempfile.mkdtemp(prefix="graft-check-")
        part = os.path.join(scratch, "part.json")
        try:
            p = subprocess.run(
                [sys.executable, os.path.join(REPO, "tools/check.py"),
                 sf_dir, vout, "--json", part] + flags + [op],
                cwd=scratch, capture_output=True, text=True, timeout=timeout)
            if os.path.exists(part):
                report.update(json.load(open(part)))
                ent = report.get(op, {})
                tag = "PASS" if ent.get("hash_match") else (
                    "ROWS" if ent.get("err") == "no_oracle" else "FAIL")
                print(f"[check_subset] {tag} {op}", file=sys.stderr)
            elif p.returncode < 0:
                # killed by a signal: the oom-killer class
                report[op] = dict(NULL_ROW, err="oracle_oom")
                print(f"[check_subset] OOM {op} (rc={p.returncode})",
                      file=sys.stderr)
            else:
                # rc>0 with no report: a genuine check.py failure — fold
                # stdout in too (a crash that printed its diagnostics
                # there must not masquerade as an oracle-capacity row)
                diag = ((p.stderr or "") + (p.stdout or ""))[-300:]
                report[op] = dict(NULL_ROW, err=f"check_crash: {diag}")
                print(f"[check_subset] CRASH {op}", file=sys.stderr)
        except subprocess.TimeoutExpired:
            report[op] = dict(NULL_ROW, err="oracle_timeout")
            print(f"[check_subset] TIMEOUT {op} (>{timeout}s)", file=sys.stderr)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        with open(out_path, "w") as f:    # checkpoint after every op
            json.dump(report, f, indent=2, sort_keys=True)
    n_pass = sum(1 for e in report.values() if e.get("hash_match"))
    print(f"[check_subset] {n_pass}/{len(report)} hash-pass -> {out_path}",
          file=sys.stderr)
    print(out_path)


if __name__ == "__main__":
    main()
