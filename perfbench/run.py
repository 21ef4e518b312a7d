"""Reference-chain benchmark: one workload, one seed, one JSON result.

Usage (from the repository root):

  python3 perfbench/run.py --workload dda_many_runs --seed 1 --seconds 20 --trace 0

Steps: build the program and the benchmark (cached by source hash), stage
the seed's inputs (cached by seed, generator version and workload shape; not
timed), then start one JVM that times process start → ready Spark session
and drives the workload's chain as a closed loop with one client on
local[N], N = min(4, cores), for ``--seconds``, checking each rep's output
against the generator's expected counts.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. The line before it carries the input size and rep times.
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
import gen  # noqa: E402

# Seconds of untimed warm-up reps after the cold one; the self-test's trend
# check says whether they are enough for the JIT to settle.
WARMUP_S = 8
HEAP = "3g"
# the whole run, JVMs included, must end well inside three minutes
DEADLINE_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classpath, work, args, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main", *args]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: JVM timed out")
    if code != 0:
        sys.exit(f"perfbench: JVM exited with {code}")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    classpath = build.ensure()
    # a first run in a fresh checkout also compiles; the deadline starts after
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(build.WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = gen.stage(os.path.join(build.WORK, "inputs"), a.workload, a.seed)
    cpus = str(min(4, os.cpu_count() or 1))

    out = os.path.join(work, "result.json")
    jvm(classpath, work, [
        "--cpus", cpus, "--result", out, "--workload", a.workload,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--warmup", str(WARMUP_S), "--inputs", inputs, "--work", work,
    ], deadline)
    with open(out) as f:
        result = json.load(f)

    for name in ("tmp", "spark-local", "out"):
        shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    print(json.dumps({"info": result.pop("info")}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
