"""Record the per-layer baseline: one untraced and one traced run of each
workload with the same seed, the per-layer numbers of the traced run, and
the tracing overhead as traced minus untraced end-to-end numbers.

    python3 perfbench/baseline.py --seed 7 --out perfbench/baseline.json
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import WORKLOADS  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True, timeout=600,
    ).stdout.strip().splitlines()
    return json.loads(out[-2])["report"], json.loads(out[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    record = {"seed": a.seed, "run_seconds": seconds, "workloads": {}}
    for wl in WORKLOADS:
        plain, plain_result = run_once(wl, a.seed, seconds, 0)
        traced, traced_result = run_once(wl, a.seed, seconds, 1)
        overhead = {k: traced["end_to_end"][k] - v for k, v in plain["end_to_end"].items()}
        record["workloads"][wl] = {
            "correct": plain_result["correct"] and traced_result["correct"],
            "end_to_end_untraced": plain["end_to_end"],
            "end_to_end_traced": traced["end_to_end"],
            "tracing_overhead": overhead,
            "per_layer": {k: v["value"] for k, v in traced_result["metrics"].items()},
            "workload_metrics": plain["metrics"],
            "env": plain["env"],
        }
    with open(a.out, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
