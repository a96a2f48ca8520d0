"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py [workload ...]

Run from the repository root.  For each workload (default: the ones
``BENCHMARK.json`` declares, and ``corpus_curate``) it runs
``run.py --size tiny`` untraced and traced, and fails unless every run
exits 0, passes its correctness checks, and prints exactly the metric
names ``BENCHMARK.json`` declares for that mode.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = {0: {m["name"] for m in bench["end_to_end"]},
             1: {m["name"] for m in bench["per_layer"]}}
    workloads = argv or [w["name"] for w in bench["workloads"]] + [
        "corpus_curate"]
    bad = 0
    for wl in workloads:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", wl, "--seed", "7", "--seconds", "4",
                   "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True,
                                  timeout=600)
            lines = proc.stdout.strip().splitlines()
            problems = []
            if proc.returncode != 0:
                problems.append(f"exit {proc.returncode}: "
                                f"{proc.stderr.strip()[-600:]}")
            else:
                result = json.loads(lines[-1])
                if not result["correct"] or result["failed"]:
                    problems.append("incorrect: " + "; ".join(
                        ln for ln in lines if ln.startswith("FAILED"))[:600])
                got = set(result["metrics"])
                if got != names[trace]:
                    problems.append(
                        f"metric names differ: missing "
                        f"{sorted(names[trace] - got)} extra "
                        f"{sorted(got - names[trace])}")
            status = "ok" if not problems else "FAIL " + " | ".join(problems)
            print(f"{wl} trace={trace}: {status}", flush=True)
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
