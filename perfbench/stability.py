"""Which layer counts repeat exactly between two traced runs.

    python3 perfbench/stability.py [--seed N] [workload ...]

Runs ``run.py --trace 1`` twice per workload with the same seed, in
two fresh processes of the same code, and writes ``stability.json``
next to this file: for every count below, both readings and whether
they are equal. A later change may rest a claim on a count only if it
repeats exactly here.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

COUNTS = ("queries.py4j_calls", "exec.jobs", "exec.stages", "exec.tasks",
          "exec.shuffle_write_bytes", "codegen.compiles",
          "plans.stage_jobs.01-posts", "plans.stage_jobs.22-pairs",
          "plans.stage_jobs.23-split", "plans.stage_jobs.24-negatives",
          "plans.rerun_jobs", "cache.blocks_left")


def traced_run(workload: str, seed: int, seconds: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "1"], cwd=ROOT, capture_output=True, text=True,
        timeout=600)
    final = json.loads(p.stdout.strip().splitlines()[-1])
    if p.returncode != 0 or not final["correct"]:
        raise SystemExit(f"{workload}: traced run failed ({p.returncode})")
    return {k: v["value"] for k, v in final["metrics"].items()}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    report = {"seed": args.seed, "seconds": bench["run_seconds"],
              "workloads": {}}
    for w in args.workloads:
        a = traced_run(w, args.seed, bench["run_seconds"])
        b = traced_run(w, args.seed, bench["run_seconds"])
        report["workloads"][w] = {
            k: {"first": a[k], "second": b[k], "exact": a[k] == b[k]}
            for k in COUNTS}
        same = [k for k in COUNTS if a[k] == b[k]]
        print(f"{w}: exact {len(same)}/{len(COUNTS)}: {', '.join(same)}")
    with open(os.path.join(HERE, "stability.json"), "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
