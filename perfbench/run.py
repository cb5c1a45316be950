#!/usr/bin/env python3
"""The graft benchmark: one command per run.

    python3 perfbench/run.py --workload audit_rebuild_capture --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It

  1. builds the engine and the harness from source (sbt, offline; cached in
     .bench_build/ and rebuilt when any source changes),
  2. generates the workload's inputs from --seed (perfbench/gen.py) and
     re-verifies their declared properties (perfbench/workloads.json),
  3. runs the workload in a fresh `local[nproc]` JVM (graftbench.Main),
  4. checks every op's output against DuckDB (perfbench/checks.py),
  5. prints a readable report, then as its last line one JSON object:
     {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes spans plus a per-layer summary under .bench_build/trace/).
Metric names, units and bounds are in BENCHMARK.json; what each means is
in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 150   # one run must end well inside 180 s
BUILD_TIMEOUT_S = 840
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build --

def _sources():
    files = []
    for top in (ENGINE_SRC, os.path.join(HARNESS, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    files += [os.path.join(HARNESS, "build.sbt"),
              os.path.join(HARNESS, "project", "build.properties")]
    return sorted(files)


def build():
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building engine + harness (sbt compile)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            f"-Djava.io.tmpdir={tmp}", "compile"],
                           cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        raise SystemExit(f"[perfbench] build failed; see {BUILD}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"[perfbench] built in {time.time() - t0:.0f} s")


# ------------------------------------------------------------------ JVM --

def driver_mem():
    """Spark driver heap: half the machine's memory, clamped to 2g..8g (the
    rule the repo's test suite runs under)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(workload, data, work, iterations, trace, props):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise SystemExit("[perfbench] SPARK_HOME must name a Spark 4 install")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    mem = driver_mem()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = [java] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{mem}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{os.path.join(spark_home, 'jars', '*')}",
        "graftbench.Main", "--workload", workload, "--data", data, "--work", work,
        "--iterations", str(iterations), "--trace", str(trace),
        "--out", os.path.join(work, "result.json"),
        "--props", ",".join(f"{k}={v}" for k, v in props.items())]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:  # run() has killed and reaped it
            code = "timeout"
    res = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(res):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        log(f"[perfbench] JVM exited with {code}:\n{tail}")
        return None
    with open(res) as f:
        return json.load(f)


# -------------------------------------------------------------- metrics --

def tail(times):
    """(percentile, value): the highest percentile with at least ten
    samples beyond it — the sample that has exactly ten above it."""
    n = len(times)
    if n < 11:
        return None, None
    return 100.0 * (n - 10) / n, sorted(times)[n - 11]


def end_to_end(r):
    """Per op kind, the median latency (failed ops stay in the timings);
    both metrics are built from these, so neither moves with how many ops
    of each kind a run happens to hold or with where a kind's samples sit
    next to another kind's."""
    kinds = {}
    for o in r["ops"]:
        kinds.setdefault(o["name"], []).append(o)
    medians = [statistics.median(o["seconds"] for o in k) for k in kinds.values()]
    rows = sum(k[0]["rows_in"] * sum(o["ok"] for o in k) / len(k) for k in kinds.values())
    return {
        "setup_s": (statistics.median(s["setup_s"] for s in r["setups"]), "s"),
        "op_kind_p50_s": (statistics.median(medians), "s"),
        "rows_per_s": (rows / sum(medians), "rows/s"),
    }


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def rows_returned(r, o):
    """Rows the op handed back. Noop-materialised operators return none to
    the client, so their result size is read from the checked output."""
    if o["rows_out"]:
        return o["rows_out"]
    for c in r["checks"]:
        if c.get("kind") == "oracle" and c["name"] == o["name"]:
            return sum(pq.ParquetFile(os.path.join(c["spark"], f)).metadata.num_rows
                       for f in os.listdir(c["spark"]) if f.endswith(".parquet"))
    return 0


def per_layer(r):
    t = [o for o in r["ops"] if o["traced"]]
    u = [o for o in r["ops"] if not o["traced"]]
    cpus = r["cpus"]
    wall = sum(o["seconds"] for o in t)
    returned = sum(rows_returned(r, o) for o in t)
    return {
        "session.build_s": (statistics.median(s["build_s"] for s in r["setups"]), "s"),
        "session.warmup_s": (statistics.median(s["warmup_s"] for s in r["setups"]), "s"),
        "plans.plan_s": (_mean(o["plan_ms"] for o in t) / 1000.0, "s"),
        "sources.bytes_read": (_mean(o["bytes_read"] for o in t), "bytes"),
        "sources.files_read": (_mean(o["files_read"] for o in t), "count"),
        "sources.rows_examined_per_row_returned":
            (sum(o["scan_rows"] for o in t) / max(1, returned), "ratio"),
        "exec.jobs_per_op": (_mean(o["jobs"] for o in t), "count"),
        "exec.stages_per_op": (_mean(o["stages"] for o in t), "count"),
        "exec.tasks_per_op": (_mean(o["tasks"] for o in t), "count"),
        "exec.shuffle_write_bytes": (_mean(o["shuffle_write_bytes"] for o in t), "bytes"),
        "exec.shuffle_read_bytes": (_mean(o["shuffle_read_bytes"] for o in t), "bytes"),
        "exec.busy_share": (sum(o["executor_run_ms"] for o in t) / (wall * 1000.0 * cpus), "ratio"),
        "exec.gc_s": (_mean(o["gc_ms"] for o in t) / 1000.0, "s"),
        "exec.peak_rss_mb": (r["peak_rss_mb"], "MB"),
        "exec.task_skew": (statistics.median(o["skew"] for o in t), "ratio"),
        "trace.overhead_share": (statistics.median(o["seconds"] for o in t)
                                 / statistics.median(o["seconds"] for o in u) - 1.0, "ratio"),
    }


def trace_summary(r):
    """Per-layer self time over the traced iterations, span-duration
    medians, and the layer counters keyed by the names in README.md."""
    spans = {s["id"]: s for s in r["spans"]}
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def root(s):
        while s["parent"]:
            s = spans[s["parent"]]
        return s

    self_s, setup_self_s, by_name = {}, {}, {}
    for s in spans.values():
        own = dur(s) - sum(dur(k) for k in kids.get(s["id"], []))
        layer = s["name"].split(".")[0]
        measured = root(s)["name"] == "iteration"
        bucket = self_s if measured else setup_self_s
        bucket[layer] = bucket.get(layer, 0.0) + own
        # engine calls inside traced iterations, plus the set-up steps
        if (measured and s["name"] != "iteration" and not s["name"].startswith("op.")) \
                or (not measured and not s["parent"]):
            by_name.setdefault(s["name"] + "_s", []).append(dur(s))
    t = [o for o in r["ops"] if o["traced"]]

    def by_layer(prefix, key, agg=sum):
        xs = [o[key] for o in t if o["layer"].startswith(prefix + ".")]
        return agg(xs) / max(1, len(xs)) if agg is sum else (agg(xs) if xs else 0)

    named = {k: statistics.median(v) for k, v in by_name.items()}
    for layer in ("sources", "audit", "plans", "text", "vector", "streaming"):
        if any(o["layer"].startswith(layer + ".") for o in t):
            named[f"{layer}.jobs"] = by_layer(layer, "jobs")
            named[f"{layer}.shuffle_write_bytes"] = by_layer(layer, "shuffle_write_bytes")
            named[f"{layer}.shuffle_read_bytes"] = by_layer(layer, "shuffle_read_bytes")
            named[f"{layer}.spill_bytes"] = by_layer(layer, "spill_bytes")
            named[f"{layer}.max_task_s_over_median_task_s"] = by_layer(layer, "skew", max)
    if r["workload"] == "audit_lookup":
        named["audit.lookup_bytes_read"] = _mean(o["bytes_read"] for o in t)
        named["audit.lookup_files_read"] = _mean(o["files_read"] for o in t)
        named["audit.lookup_rows_examined_per_row_returned"] = \
            sum(o["scan_rows"] for o in t) / max(1, sum(o["rows_out"] for o in t))
        named["plans.plan_s"] = _mean(o["plan_ms"] for o in t) / 1000.0
    if r["workload"] == "audit_rebuild_capture":
        cap_ops = [o for o in t if o["layer"] == "streaming.capture"]
        named["streaming.batches"] = _mean(o["stream_batches"] for o in cap_ops)
        for k in ("trigger_ms", "add_batch_ms", "wal_commit_ms"):
            named[f"streaming.{k}"] = _mean(o[k] for o in cap_ops)
        named["sources.sink_write_s"] = named["streaming.add_batch_ms"] / 1000.0
        cap = [c for c in r["checks"] if c.get("kind") == "capture"]
        recs = cap[0]["ops"] if cap else []
        named["sources.sink_files"] = _mean(x["sink_files"] for x in recs)
        named["sources.sink_bytes_written"] = _mean(x["sink_bytes"] for x in recs)
    wall = sum(self_s.values())
    return {
        "workload": r["workload"],
        "traced_ops": len(t),
        "self_s_by_layer": self_s,
        "self_share_by_layer": {k: v / wall for k, v in self_s.items()} if wall else {},
        "setup_self_s_by_layer": setup_self_s,
        "metrics": named,
    }


# ----------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's input size")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"[perfbench] no engine sources under {ENGINE_SRC}; "
                         "run from the root of a graft checkout")
    declared = gen.declared(a.workload, a.scale)
    build()

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        gen.generate(a.workload, a.seed, data, a.scale)
        inputs_ok, input_problems, measured = gen.verify(a.workload, data, a.scale)
        # a fixed amount of work per run, sized to take about --seconds
        iterations = max(2, round(a.seconds / declared["iteration_s"]))
        r = run_jvm(a.workload, data, work, iterations, a.trace, declared)
        if r is None:
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        passed, failed_checks, problems = checks.run_checks(r, data)
        metrics = per_layer(r) if a.trace else end_to_end(r)
        if a.trace:
            out = os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}")
            os.makedirs(out, exist_ok=True)
            summary = trace_summary(r)
            with open(os.path.join(out, "spans.json"), "w") as f:
                json.dump(r["spans"], f)
            with open(os.path.join(out, "summary.json"), "w") as f:
                json.dump(summary, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = r["ops"]
    failed_ops = sum(1 for o in ops if not o["ok"])
    attempted = len(ops) + passed + failed_checks
    failed = failed_ops + failed_checks
    correct = inputs_ok and failed == 0 and len(ops) > 0

    print(f"workload {a.workload}  seed {a.seed}  cpus {r['cpus']}  "
          f"{len(ops)} ops in {r['iterations']} iterations over {r['measure_wall_s']:.1f} s")
    print(f"inputs: {json.dumps(measured)} "
          f"({'as declared' if inputs_ok else 'NOT as declared: ' + '; '.join(input_problems)})")
    print(f"checks: {passed} passed, {failed_checks} failed; ops failed: {failed_ops}; "
          f"failed_ratio {failed / attempted:.4f} ({failed}/{attempted})")
    for p in problems[:20] + r["failures"][:20]:
        print(f"  problem: {p}")
    print("setups (s): " + ", ".join(f"{s['setup_s']:.2f}" for s in r["setups"])
          + f"  (first from JVM start; median of {len(r['setups'])} reported)")
    print(f"peak RSS: {r['peak_rss_mb']:.1f} MB")
    secs = [o["seconds"] for o in ops]
    pct, val = tail(secs)
    print(f"op latency: p50 {statistics.median(secs):.4f} s, " +
          (f"tail p{pct:.1f} {val:.4f} s" if pct else "tail n/a (fewer than 11 ops)")
          + f", n={len(secs)}")
    names = sorted({o["name"] for o in ops})
    for n in names:
        xs = [o["seconds"] for o in ops if o["name"] == n]
        print(f"  {n:<24} n={len(xs):<3} median {statistics.median(xs):.4f} s  max {max(xs):.4f} s")
    if a.trace:
        print("self time by layer (traced iterations): " + ", ".join(
            f"{k} {v:.3f} s" for k, v in sorted(summary["self_s_by_layer"].items())))
        print(f"tracing overhead (median traced / untraced op - 1): "
              f"{metrics['trace.overhead_share'][0]:+.3f}")
        print(f"trace files: {out}/spans.json, {out}/summary.json")
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
