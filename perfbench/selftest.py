"""Self-test of the benchmark's checks (perfbench.SelfTest).

Usage: python3 perfbench/selftest.py

Builds like run.py, then runs each workload once on a small input and
feeds every check a deliberately corrupted copy of graft's outputs; each
corrupted copy must fail the check it targets. Prints one PASS/FAIL line
per case and exits non-zero if any case failed.
"""
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    classes = build.ensure()
    run_dir = os.path.join(build.build_dir(), "runs", f"selftest-{os.getpid()}-{time.time_ns()}")
    try:
        cmd, env = run.java(classes, run_dir, "perfbench.SelfTest", [])
        p = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write("".join(l + "\n" for l in p.stdout.splitlines()
                             if l.startswith(("PASS", "FAIL", "self-test"))))
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
