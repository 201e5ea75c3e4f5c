#!/usr/bin/env python3
"""Two traced runs of one workload at one seed must report identical job
and stage counts, so that counts are a regression signal that does not
depend on the host's speed.

    python3 perfbench/test_determinism.py [--workload ohlcv_day] [--seed 7]

Run from the repository root; exits non-zero on any difference.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = ["spark.jobs", "spark.stages", "pipeline.tick_jobs", "lifecycle.drain_jobs",
          "serve.jobs"]


def traced(workload, seed):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        stdout=subprocess.PIPE, text=True, check=True)
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"], f"{workload} seed {seed}: outputs failed their checks"
    return {k: result["metrics"][k]["value"] for k in COUNTS}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    bad = 0
    for w in a.workload or ["ohlcv_day", "drain_curate"]:
        first, second = traced(w, a.seed), traced(w, a.seed)
        for k in COUNTS:
            same = first[k] == second[k]
            bad += not same
            print(f"{'ok  ' if same else 'DIFF'} {w} {k}: {first[k]:g} vs {second[k]:g}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
