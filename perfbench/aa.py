#!/usr/bin/env python3
"""A/A steadiness check: runs one workload on several seeds with the same
code and reports, per metric, the median, the quartiles and the spread
(Q3 - Q1) / median against the metric's bound in BENCHMARK.json.

    python3 perfbench/aa.py --workload corpus_dedup --seeds 1-10
    python3 perfbench/aa.py --workload corpus_dedup --seeds 11-20 \\
        --baseline .bench_build/aa/corpus_dedup-trace0-seeds1-10.json

A metric is steady when its spread is below a third of its bound
(setup_s is exempt from the spread rule). With --baseline, the second
median must also not be worse than the baseline's by more than the bound.
Raw results go to .bench_build/aa/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--baseline")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end" if a.trace == 0 else "per_layer"]}

    runs = []
    for s in seeds(a.seeds):
        out = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        r = json.loads(last)
        runs.append({"seed": s, "exit": out.returncode, **r, "report": out.stdout})
        print(f"seed {s}: exit {out.returncode} correct {r.get('correct')} " + " ".join(
            f"{k}={v['value']:.5g}" for k, v in r.get("metrics", {}).items()), flush=True)

    os.makedirs(os.path.join(ROOT, ".bench_build", "aa"), exist_ok=True)
    path = os.path.join(ROOT, ".bench_build", "aa",
                        f"{a.workload}-trace{a.trace}-seeds{a.seeds}.json")
    with open(path, "w") as f:
        json.dump(runs, f, indent=1)
    base = None
    if a.baseline:
        with open(a.baseline) as f:
            base = json.load(f)

    ok = all(r.get("correct") for r in runs)
    print(f"\n{a.workload}: {len(runs)} runs, all correct: {ok}  (raw: {path})")
    for name, m in spec.items():
        vals = [r["metrics"][name]["value"] for r in runs if name in r.get("metrics", {})]
        if len(vals) < 4:
            print(f"  {name}: too few values"); ok = False; continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        line = f"  {name:<40} median {med:.5g} {m['unit']}  Q1 {q1:.5g}  Q3 {q3:.5g}  spread {spread:.3f}"
        if "bound" in m:
            steady = name == "setup_s" or spread < m["bound"] / 3
            line += f"  bound {m['bound']}  {'steady' if steady else 'NOT steady'}"
            ok &= steady
            if base:
                bv = [r["metrics"][name]["value"] for r in base if name in r.get("metrics", {})]
                bmed = statistics.quantiles(bv, n=4)[1]
                worse = (med - bmed) / bmed if m["better"] == "lower" else (bmed - med) / bmed
                line += f"  vs baseline median {bmed:.5g}: {worse:+.3f} worse"
                ok &= worse <= m["bound"]
        print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
