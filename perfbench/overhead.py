"""Tracing overhead of one workload: run it untraced and traced with the
same seed and print the difference of the end-to-end figures.

    python3 perfbench/overhead.py --workload corpus_dedup --seed 1

Both runs measure for BENCHMARK.json's ``run_seconds``. Each figure is
one run's median, so repeat over seeds before trusting a small
difference.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def metrics(workload: str, seed: int, seconds: int, trace: int) -> dict[str, float]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    return {k: m["value"] for k, m in result["metrics"].items()}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        args.seconds = json.load(f)["run_seconds"]
    plain = metrics(args.workload, args.seed, args.seconds, 0)
    traced = metrics(args.workload, args.seed, args.seconds, 1)
    for name, unit in (("batch_s", "s"), ("p50_ms", "ms")):
        a, b = plain[name], traced[f"trace.{name}"]
        print(f"{args.workload} {name}: untraced {a:.4g} {unit}, traced {b:.4g} {unit}, "
              f"overhead {b - a:+.4g} {unit} ({(b - a) / a:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
