#!/usr/bin/env python3
"""A/B the benchmark between a parent revision and this checkout.

    python3 tools/perf_ab.py <parent-rev> <workload> <pairs> <first-seed>

Run from the root of a checkout. Extracts <parent-rev> with `git archive`
into a temp dir, builds both trees (each with its own CARGO_TARGET_DIR),
then runs <pairs> pairs of `python3 perfbench/run.py --workload W
--seed S --seconds T --trace 0`, S = first-seed, first-seed+1, ... and
T = run_seconds from BENCHMARK.json. The order alternates per pair
(parent first, then change first) so drift of the machine lands on both
sides. The change side is the working tree as it is, uncommitted edits
included.

Prints one line per run, then for every end-to-end metric of
BENCHMARK.json the parent and change median and quartiles, the change
of the medians, whether it exceeds the parent's interquartile range, and
in how many pairs the change was better. Exits non-zero when a run
fails or reports an incorrect result. Only invokes perfbench; edits
nothing under it.
"""
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run(tree, build_dir, workload, seed, seconds):
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-4000:])
        raise SystemExit(f"perf_ab: run failed in {tree} (seed {seed}, "
                         f"exit {r.returncode})")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"perf_ab: incorrect result in {tree} (seed {seed}): "
                         f"{lines[-1]}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    if len(sys.argv) != 5:
        raise SystemExit(__doc__)
    rev, workload, pairs, first_seed = (sys.argv[1], sys.argv[2],
                                        int(sys.argv[3]), int(sys.argv[4]))
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]

    tmp = tempfile.mkdtemp(prefix="perf_ab_")
    try:
        parent = os.path.join(tmp, "parent")
        os.makedirs(parent)
        archive = subprocess.run(["git", "archive", rev], cwd=root, check=True,
                                 stdout=subprocess.PIPE).stdout
        subprocess.run(["tar", "-x", "-C", parent], input=archive, check=True)
        trees = {"parent": (parent, os.path.join(tmp, "build-parent")),
                 "change": (root, os.path.join(tmp, "build-change"))}
        for side, (tree, build_dir) in trees.items():
            env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
            subprocess.run([sys.executable, "perfbench/build.py"], cwd=tree,
                           env=env, check=True, stdout=subprocess.DEVNULL)

        results = {"parent": [], "change": []}
        for i in range(pairs):
            seed = first_seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                tree, build_dir = trees[side]
                m = run(tree, build_dir, workload, seed, seconds)
                results[side].append(m)
                print(f"pair {i + 1} seed {seed} {side}: " +
                      " ".join(f"{x['name']}={m[x['name']]:.4g}" for x in metrics),
                      flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"\n{workload}, {pairs} pairs from seed {first_seed}, "
          f"parent {rev} vs this checkout")
    for x in metrics:
        name, lower = x["name"], x["better"] == "lower"
        p = [m[name] for m in results["parent"]]
        c = [m[name] for m in results["change"]]
        pq, cq = quartiles(p), quartiles(c)
        wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
        delta = cq[1] - pq[1]
        rel = delta / pq[1] * 100 if pq[1] else float("nan")
        beyond = abs(delta) > pq[2] - pq[0]
        print(f"{name:18s} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
              f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
              f"{rel:+.1f}%  beyond parent IQR: {'yes' if beyond else 'no'}  "
              f"change better in {wins}/{pairs}")


if __name__ == "__main__":
    main()
