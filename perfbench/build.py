"""Compile the graft library and the benchmark driver into one class directory.

The benchmark builds from the sources of the checkout it runs in: every
`src/main/scala/**.scala` file plus `perfbench/src/**.scala`, compiled with
the Scala compiler that ships in Spark's jar directory. Resources under
`src/main/resources` are deliberately NOT copied, so connectors must be
resolved by provider class name (the DataSourceRegister short names are
unavailable on this classpath).

The build is cached: a stamp holding the SHA-256 of every source path and
its contents sits beside the classes, and a matching stamp skips the
compile.

    python3 perfbench/build.py            # build into $CARGO_TARGET_DIR or .bench_build
"""

import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jar directory not found: {jars}")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"build: library sources missing: {LIB_SRC}")
    if not os.path.isdir(BENCH_SRC):
        raise SystemExit(f"build: benchmark sources missing: {BENCH_SRC}")
    out = []
    for base in (LIB_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Return the class directory, compiling first unless the stamp matches."""
    files = sources()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    stamp = stamp_of(files)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    os.makedirs(out, exist_ok=True)
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.path.join(spark_jars(), "*")
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    t0 = time.time()
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-cp", cp, "@" + args_file]
    proc = subprocess.run(cmd, cwd=ROOT)
    if proc.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    print(f"build: compiled {len(files)} files in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return classes


if __name__ == "__main__":
    print(build())
