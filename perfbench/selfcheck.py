#!/usr/bin/env python3
"""Negative self-check of the benchmark's output checks.

    python3 perfbench/selfcheck.py

Run from the root of a checkout. Shows that the checks can fail:

1. etl_tail with --inject-faults: the ClickHouse stub loses one line of
   the first timed iteration and the expected digest of the second is
   falsified. The run must exit non-zero and report exactly those two
   iterations as failed.
2. query_session with --inject-faults: one committed query digest is
   falsified. The run must exit non-zero and report that query as failed
   in every pass.
3. A tree holding only BENCHMARK.json and perfbench/ (no program
   sources): the benchmark must exit non-zero without printing a result.

Exits 0 when all three behave so.
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def run(args, cwd):
    r = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=300)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines else None), r.stderr


def main():
    root = os.getcwd()
    ok = True

    rc, res, err = run(["--workload", "etl_tail", "--seed", "1",
                        "--seconds", "4", "--trace", "0", "--inject-faults"],
                       root)
    iters = [l for l in err.splitlines() if "FAILED iteration" in l]
    good = (rc != 0 and res is not None and not res["correct"]
            and res["failed"] == 2 and len(iters) == 2
            and "ClickHouse lines" in iters[0] and "ClickHouse lines" in iters[1])
    print(f"etl_tail dropped line + falsified digest: exit {rc}, "
          f"failed {res and res['failed']} -> {'ok' if good else 'WRONG'}")
    print("\n".join("  " + l for l in iters))
    ok &= good

    rc, res, err = run(["--workload", "query_session", "--seed", "1",
                        "--seconds", "1", "--trace", "0", "--inject-faults"],
                       root)
    bad = [l for l in err.splitlines() if "FAILED pass" in l]
    good = (rc != 0 and res is not None and not res["correct"]
            and res["failed"] == len(bad) >= 1
            and all("q_metrics_ingest: digest" in l for l in bad))
    print(f"query_session falsified digest: exit {rc}, "
          f"failed {res and res['failed']} -> {'ok' if good else 'WRONG'}")
    ok &= good

    bare = os.path.join(build.build_dir(root), "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(root, "perfbench"),
                    os.path.join(bare, "perfbench"))
    env_dir = os.environ.pop("CARGO_TARGET_DIR", None)
    try:
        rc, res, _ = run(["--workload", "etl_tail", "--seed", "1",
                          "--seconds", "1", "--trace", "0"], bare)
    finally:
        if env_dir is not None:
            os.environ["CARGO_TARGET_DIR"] = env_dir
    shutil.rmtree(bare, ignore_errors=True)
    good = rc != 0 and res is None
    print(f"tree without program sources: exit {rc}, result "
          f"{'none' if res is None else 'printed'} -> {'ok' if good else 'WRONG'}")
    ok &= good

    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
