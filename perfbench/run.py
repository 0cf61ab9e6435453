#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the benchmark
(perfbench/build.py) when their sources changed, then runs it in
one JVM at local[N], N = the CPUs this process may use. The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(perfbench/manifest.json lists both). The full record of a run (every
operation, the set-up rounds and, when traced, the spans) is written to
.bench_build/results/. Exits non-zero when an output check fails or the
run cannot complete.

Extra options: --inject-faults drops one ClickHouse line and falsifies one
expected digest, so the run must fail (see selfcheck.py); --write-digests
FILE runs a query workload and records its digests instead of
checking them.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("etl_tail", "query_session")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-faults", action="store_true")
    ap.add_argument("--write-digests")
    a = ap.parse_args()

    root = os.getcwd()
    classes = build.ensure_built(root)
    out = build.build_dir(root)
    work = os.path.join(out, "work", str(os.getpid()))
    results = os.path.join(out, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result = os.path.join(results, tag + ".json")
    for f in (result, result + ".detail.json"):
        if os.path.exists(f):
            os.remove(f)
    bench = os.path.join(root, "perfbench")
    cpus = len(os.sched_getaffinity(0))

    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx4g", "-Xss4m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.path.join(build.spark_jars(), "*") + os.pathsep + classes,
        "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(cpus), "--work", work,
        "--data", os.path.join(bench, "data", "sf0.01"),
        "--digests", os.path.join(bench, "expected", "query_digests.tsv"),
        "--result", result,
    ]
    if a.inject_faults:
        cmd.append("--inject-faults")
    if a.write_digests:
        cmd += ["--write-digests", os.path.abspath(a.write_digests)]

    # Spark's scratch space, which it takes from this variable first
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(results, tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)

        def stop(signum, frame):
            os.killpg(proc.pid, signal.SIGKILL)
            sys.exit(1)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    if rc != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.stderr.write(f"perfbench: benchmark JVM {'timed out' if rc is None else f'exited {rc}'}"
                         f" (log: {log_path})\n")
        sys.exit(1)
    with open(log_path) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    with open(result) as f:
        res = json.load(f)
    print(json.dumps(res))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
