#!/usr/bin/env python3
"""Records the committed traced run of a workload: one untraced and one
traced run with the same seed, written with the tracing overhead to
perfbench/traced/<workload>.json. Run from the repository root:

    python3 perfbench/tools/traced.py <workload> [seed]
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, trace):
    subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", "5", "--trace", str(trace)],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(ROOT, ".perfbench", "last-%s.json" % workload)) as f:
        return json.load(f)


def main():
    workload = sys.argv[1]
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    untraced = run(workload, seed, 0)
    traced = run(workload, seed, 1)
    traced["untraced_end_to_end"] = untraced["end_to_end"]
    traced["tracing_overhead_s"] = (traced["end_to_end"]["wall_s"] -
                                    untraced["end_to_end"]["wall_s"])
    with open(os.path.join(BENCH, "traced", workload + ".json"), "w") as f:
        json.dump(traced, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
