"""Pipeline benchmark over the graft library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark driver from this checkout's sources
(see build.py), then runs one workload in a single JVM on Spark `local[N]`,
N = min(4, cores). The driver (perfbench/src/perfbench/Main.scala) prints
one JSON object as its last stdout line; this script checks its shape and
prints it as the last line of its own stdout. Every file the run writes
lives under the build directory ($CARGO_TARGET_DIR or .bench_build); the
per-run work directory is removed at exit, the trace file of a traced run
is kept under <build dir>/trace/.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("graph_loops", "corpus_curation", "cdc_ingest")
TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def declared(trace):
    """The metrics BENCHMARK.json declares for this mode: name -> unit."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def result_line(stdout, trace):
    """The driver's last stdout line, narrowed to the declared metrics.

    A per-layer metric of a layer the workload never calls reads 0 (no time
    spent there). A declared end-to-end metric must be measured.
    """
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if not lines:
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return None
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return None
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        return None
    got = res["metrics"]
    metrics = {}
    for name, unit in declared(trace).items():
        if name in got:
            if got[name]["unit"] != unit:
                raise SystemExit(f"run: {name} measured in {got[name]['unit']}, declared {unit}")
            metrics[name] = got[name]
        elif trace:
            metrics[name] = {"value": 0, "unit": unit}
        else:
            raise SystemExit(f"run: end-to-end metric {name} was not measured")
    res["metrics"] = metrics
    return res


def main():
    a = parse()
    classes = build.build()
    out = build.build_dir()
    work = os.path.join(out, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    here = os.path.dirname(os.path.abspath(__file__))
    cores = min(4, os.cpu_count() or 1)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties")]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", work,
            "--trace-dir", os.path.join(out, "trace")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"run: {a.workload} exceeded {TIMEOUT_S}s")
    shutil.rmtree(work, ignore_errors=True)
    for ln in stdout.splitlines()[:-1]:
        print(ln, file=sys.stderr)
    res = result_line(stdout, a.trace)
    if proc.returncode != 0 or res is None:
        raise SystemExit(f"run: driver exited with code {proc.returncode} "
                         "and no valid result line")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
