"""A/B runner: alternated parent/change pairs with identical benchmark code.

Usage:
  python3 perfbench/ab.py --parent DIR --change DIR [--pairs 10] [--seed 1000]
                          [--workloads corpus,ingest]
  python3 perfbench/ab.py --overhead --change DIR [--pairs 10] ...

DIR is a checkout of graft (a directory with src/main/scala). Both sides
get this benchmark's own perfbench/ and BENCHMARK.json, copied next to
their sources under <build dir>/perfbench/ab/, so only the program
differs. Pair i runs seed SEED+i on both sides; even pairs run the
parent first, odd pairs the change first.

For every end-to-end metric of every workload it prints each side's
median and quartiles, the fraction of pairs the change won (ties count
for neither side), and a verdict: "better" or "worse" only when one side
won at least 9 of 10 pairs and the medians differ by more than the
parent's own quartile spread, "unresolved" otherwise.

--overhead runs one checkout untraced (parent column) against traced
(change column) and compares each end-to-end metric with its `traced.*`
twin, which is the tracing overhead.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
from run import spec  # noqa: E402


def stage(src_checkout, side):
    """A tree with `src_checkout`'s program sources and this benchmark."""
    root = os.path.join(build.build_dir(), "ab", side)
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(os.path.join(src_checkout, "src", "main"), os.path.join(root, "src", "main"))
    shutil.copytree(HERE, os.path.join(root, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), root)
    return root


def run(root, workload, seed, trace):
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(root, ".bench_build"))
    p = subprocess.run(["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(spec()["run_seconds"]), "--trace", str(trace)],
                       cwd=root, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"ab: {workload} seed {seed} failed in {root}")
    r = json.loads(lines[-1])
    if not r["correct"] or r["failed"]:
        print(f"ab: {workload} seed {seed} in {root}: correct={r['correct']} failed={r['failed']}")
    return {k: v["value"] for k, v in r["metrics"].items()}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def report(workload, metric, better, a, b):
    lower = better == "lower"
    wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
    losses = sum(1 for x, y in zip(a, b) if (y > x if lower else y < x))
    (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
    spread = a3 - a1
    n = len(a)
    if n < 10:
        verdict = "unresolved (fewer than 10 pairs)"
    elif wins >= 0.9 * n and abs(bm - am) > spread:
        verdict = "better"
    elif losses >= 0.9 * n and abs(bm - am) > spread:
        verdict = "worse"
    else:
        verdict = "unresolved"
    print(f"{workload:8s} {metric:16s} A {am:10.4g} [{a1:.4g}, {a3:.4g}]  "
          f"B {bm:10.4g} [{b1:.4g}, {b3:.4g}]  B/A {bm / am:6.3f}  "
          f"B won {wins}/{n}  {verdict}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent")
    ap.add_argument("--change", required=True)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--workloads")
    args = ap.parse_args()
    s = spec()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in s["workloads"]]
    if args.overhead:
        a_root = b_root = stage(args.change, "change")
        a_trace, b_trace = 0, 1
    else:
        if not args.parent:
            raise SystemExit("ab: --parent is required unless --overhead")
        a_root, b_root = stage(args.parent, "parent"), stage(args.change, "change")
        a_trace = b_trace = 0
    for w in workloads:
        a, b = [], []
        for i in range(args.pairs):
            seed = args.seed + i
            sides = [(a_root, a_trace, a), (b_root, b_trace, b)]
            for root, trace, out in (sides if i % 2 == 0 else sides[::-1]):
                out.append(run(root, w, seed, trace))
        for m in s["end_to_end"]:
            name = m["name"]
            twin = f"traced.{name}" if args.overhead else name
            report(w, name, m["better"], [x[name] for x in a], [x[twin] for x in b])


if __name__ == "__main__":
    main()
