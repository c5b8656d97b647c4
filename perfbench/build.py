"""Build file of the benchmark: compiles graft's main sources together
with the harness under perfbench/src into one class directory, with the
Scala compiler that ships in the Spark distribution graft builds against
($SPARK_HOME/jars, else the jars build.sbt names as its unmanaged base).

The class directory is keyed by a hash of every source file, so a run
whose sources are unchanged reuses it and a changed checkout rebuilds.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the directory build.sbt names as unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME, or name the Spark jars as unmanagedBase in build.sbt")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler under {jars}")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT if not os.path.isabs(d) else "", d, "perfbench")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: graft's sources (src/main/scala) are not in this checkout")
    return main + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def ensure():
    """Returns the class directory, compiling first if the sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    base = build_dir()
    os.makedirs(base, exist_ok=True)
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    with open(os.path.join(base, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".ok")):
            return out
        for old in glob.glob(os.path.join(base, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = out + ".tmp"
        os.makedirs(tmp)
        args = os.path.join(tmp, "sources.txt")
        with open(args, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit("perfbench: compile failed")
        os.remove(args)
        os.rename(tmp, out)
        open(os.path.join(out, ".ok"), "w").close()
        return out


if __name__ == "__main__":
    print(ensure())
