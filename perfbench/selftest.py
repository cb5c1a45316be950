#!/usr/bin/env python3
"""Self-test of the benchmark: every workload (those in BENCHMARK.json
and audit_lookup) at the tiny input size, untraced and traced. Asserts that

  - the last stdout line is the result object with exactly the keys
    correct / attempted / failed / metrics, and correct is true;
  - every metric named in BENCHMARK.json (end_to_end untraced, per_layer
    traced) is printed with its unit, and nothing else is;
  - the traced run's span file and per-layer summary parse, and the
    summary reports self time per layer.

    python3 perfbench/selftest.py            # ~5 minutes on 4 cores
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    assert out.returncode == 0 and lines, f"{workload}: exit {out.returncode}\n{out.stderr[-2000:]}"
    return json.loads(lines[-1]), out.stdout


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]] + ["audit_lookup"]
    failures = []
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            try:
                r, text = run(w, trace)
                assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
                assert r["correct"] is True, f"not correct:\n{text}"
                assert isinstance(r["attempted"], int) and r["attempted"] >= 1
                want = {m["name"]: m["unit"] for m in bench[key]}
                got = {k: v["unit"] for k, v in r["metrics"].items()}
                assert got == want, f"metrics {got} != {want}"
                assert all(isinstance(v["value"], (int, float)) for v in r["metrics"].values())
                if trace:
                    d = os.path.join(ROOT, ".bench_build", "trace", f"{w}-seed7")
                    with open(os.path.join(d, "spans.json")) as f:
                        spans = json.load(f)
                    assert spans and {"id", "parent", "trace", "name", "start_ns",
                                      "end_ns"} <= set(spans[0])
                    with open(os.path.join(d, "summary.json")) as f:
                        summary = json.load(f)
                    assert summary["self_s_by_layer"], "no per-layer self time"
                print(f"ok   {w} trace={trace}", flush=True)
            except AssertionError as e:
                failures.append(f"{w} trace={trace}: {e}")
                print(f"FAIL {w} trace={trace}: {e}", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
