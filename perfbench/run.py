"""graft benchmark: one run of one workload.

Usage: python3 perfbench/run.py --workload corpus|ingest --seed N
                                --seconds S --trace 0|1

Builds graft and the harness from this checkout's sources when they
changed (perfbench/build.py), runs the workload in its own JVM on
local[<cores>] with fresh per-run directories for java.io.tmpdir,
SPARK_LOCAL_DIRS, inputs, lakes and shards, checks the outputs, and
prints the result as the last line of stdout:

  {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer ones (a per-layer metric
the workload does not exercise reads 0), and the run's spans are kept
under <build dir>/perfbench/traces/. Exits non-zero without a result
line when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# JVM heap of a run: 1 GB for the four executor threads and the Spark driver.
HEAP = "1g"
JVM_TIMEOUT_S = 170

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cores():
    return len(os.sched_getaffinity(0))


def java(classes, run_dir, main, args):
    """The JVM command for `main` with fresh per-run directories, and its
    environment: java.io.tmpdir and SPARK_LOCAL_DIRS live under run_dir."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", *ADD_OPENS,
           "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
           main, "--dir", run_dir, "--cores", str(cores()), *args]
    return cmd, dict(os.environ, SPARK_LOCAL_DIRS=local)


def run_jvm(classes, args, run_dir, spans=None):
    cmd, env = java(classes, run_dir, "perfbench.Main",
                    ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace)]
                    + (["--spans", spans] if spans else []))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: the {args.workload} run failed (exit {code})")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    s = spec()
    if args.workload not in [w["name"] for w in s["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    classes = build.ensure()
    base = build.build_dir()
    run_dir = os.path.join(base, "runs", f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    spans = None
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        spans = os.path.join(base, "traces", f"{args.workload}-{args.seed}-{time.strftime('%Y%m%dT%H%M%S')}.jsonl")
    try:
        r = run_jvm(classes, args, run_dir, spans)
        errors = list(r["errors"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for e in errors:
        sys.stderr.write(f"perfbench: CHECK FAILED: {e}\n")
    if args.trace:
        wanted, values = s["per_layer"], r["per_layer"]
        unused = [m["name"] for m in wanted if m["name"] not in values]
        sys.stderr.write(f"perfbench: {len(unused)} per-layer metrics not exercised by {args.workload} read 0\n")
        sys.stderr.write(f"perfbench: spans written to {spans}\n")
    else:
        wanted, values = s["end_to_end"], r["end_to_end"]
        missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
        if missing:
            raise SystemExit(f"perfbench: end-to-end metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values.get(m["name"]) or 0.0, "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        sys.stderr.write(f"  {name:40s} {m['value']:.6g} {m['unit']}\n")
    print(json.dumps({"correct": not errors, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
