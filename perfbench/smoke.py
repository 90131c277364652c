"""Fast smoke check of the benchmark itself, at tiny input sizes.

Runs every workload on two seeds, one run untraced and one traced, and
fails unless each run's oracle signatures all match and the run prints
every metric BENCHMARK.json names for its mode, with the right unit.

Usage, from the repository root::

    python3 perfbench/smoke.py
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pip_join", "overlay", "battery_rw")
SEEDS = (11, 12)


def _run(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "1", "--trace",
         str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise AssertionError(f"{workload} seed {seed} trace {trace} exited "
                             f"{out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for workload in WORKLOADS:
        for seed, trace in zip(SEEDS, (0, 1)):
            res = _run(workload, seed, trace)
            tag = f"{workload} seed={seed} trace={trace}"
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: oracle mismatch {res}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != wanted[trace]:
                problems.append(f"{tag}: metrics {sorted(got)} != "
                                f"{sorted(wanted[trace])}")
            print(f"{tag}: ok={not problems} attempted={res['attempted']}",
                  flush=True)
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    print("smoke ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
