#!/usr/bin/env python3
"""Stream benchmark: per-batch latency, throughput and state growth of the
engine's semi-stream workloads.

    python3 perfbench/run.py --workload kv_join --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (offline) and keeps the classpath under
perfbench/target/; later runs start the JVM directly. Each run gets its own
temp root (java.io.tmpdir and spark.local.dir), which is measured and then
deleted. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones of a traced pass.
A traced run also prints its per-batch table and writes its spans to
perfbench/target/spans/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
WORKLOADS = ("kv_join", "sim_join")
BUILD_TIMEOUT_S = 840
# The JVM's time limit is --seconds of timed passes, plus as much again for
# the pass that may still be running at the deadline, plus this allowance
# for JVM start, warm-up, the reference, the traced pass and the probes.
RUN_ALLOWANCE_S = 140

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group and
    wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return p.returncode, out, err


def sources_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            for f in fs:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        for base in (ROOT, HERE):
            p = os.path.join(base, f)
            if os.path.exists(p):
                newest = max(newest, os.path.getmtime(p))
    return newest


def classpath():
    """Build once per checkout (again when a source is newer than the
    recorded classpath) and return the runtime classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    rc, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if os.path.join(HERE, "target") in l and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {rc})")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def run_jvm(args, cp, run_root, budget_s):
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    raw = os.path.join(run_root, "raw.json")
    cmd = ["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in JAVA_OPENS] + [
        "-Djdk.reflect.useDirectMethodHandle=false", "-Dio.netty.tryReflectionSetAccessible=true",
        "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
        "perfbench.StreamBench",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cores", str(len(os.sched_getaffinity(0))),
        "--root", run_root, "--out", raw]
    if args.trace:
        spans = os.path.join(TARGET, "spans", f"{args.workload}-seed{args.seed}.jsonl")
        cmd += ["--spans", spans]
    rc, _, err = run_group(cmd, budget_s, cwd=run_root, stdin=subprocess.DEVNULL,
                           stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    if rc != 0 or not os.path.exists(raw):
        sys.stderr.write(err[-6000:])
        fail(f"benchmark JVM failed (exit {rc})")
    with open(raw) as f:
        return json.load(f)


def print_trace(record, m):
    """Human-readable traced output: per-batch table and layer self times."""
    t = record["traced"]
    ex = {r["batch"]: r for r in metrics.batch_exec(t["spans"])}
    parts = t["pass"]["layers"].get("cache_partitions", [])
    print(f"traced pass of {record['workload']}: per batch")
    print("batch  wall_s  add_batch_s  jobs  stages  tasks  gap_s  cache_partitions  cadence")
    for i, b in enumerate(t["pass"]["batches"]):
        r = ex.get(b["batch"], {})
        cp = parts[i] if i < len(parts) else "-"
        print(f'{b["batch"]:5d}  {b["wall_ms"] / 1000:6.3f}  {b["durations"]["addBatch"] / 1000:11.3f}  '
              f'{r.get("jobs", 0):4d}  {r.get("stages", 0):6d}  {r.get("tasks", 0):5d}  '
              f'{r.get("gap_ms", 0) / 1000:5.3f}  {cp!s:>16}  {"*" if b["cadence"] else ""}')
    print("self time by layer:span (s):")
    for k, v in sorted(metrics.layer_self_ms(t["spans"]).items(), key=lambda kv: -kv[1]):
        print(f"  {k:40s} {v / 1000:8.3f}")
    if t["jobs_property_mismatch"]:
        print(f'jobs whose batch property disagreed with their start time: '
              f'{t["jobs_property_mismatch"]}')
    print(f'tracing overhead: {m["trace.overhead_share"]:.1%} of untraced throughput')


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    cp = classpath()
    run_root = os.path.join(TARGET, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    try:
        record = run_jvm(args, cp, run_root, RUN_ALLOWANCE_S + 2 * args.seconds)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    traced = record["traced"] or {}
    passes = record["passes"] + [p for p in (traced.get("pass"), traced.get("dedup")) if p]
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    m = metrics.per_layer(record) if args.trace else metrics.end_to_end(record)
    if args.trace:
        print_trace(record, m)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {d["name"]: d["unit"] for d in declared}
    missing = [k for k in units if m.get(k) is None]
    if missing or set(m) != set(units):
        fail(f"metrics without a value: {missing}; computed {sorted(m)}")
    lat = [b["wall_ms"] / 1000.0 for p in record["passes"] for b in p["batches"]]
    t = metrics.tail(lat)
    tail = (f"p{metrics.tail_percentile(len(lat)):.1f} {t:.3f} s" if t is not None
            else f"absent, fewer than {2 * metrics.TAIL_ABOVE} batches")
    print(f"{args.workload}: {len(record['passes'])} timed passes, {len(lat)} batches, "
          f"latency tail {tail}, error_rate {failed / attempted:.4f}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
