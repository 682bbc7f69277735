"""Tracing overhead: the same workload and seed untraced, then traced.

    python3 perfbench/overhead.py --workload topk --seed 1

A traced run prints its end-to-end values as ``# e2e.<name>`` detail
lines; this prints traced minus untraced for each, absolute and as a
share of the untraced value.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--trace", str(trace)],
        check=True, capture_output=True, text=True).stdout.splitlines()
    if not trace:
        return {k: v["value"] for k, v in json.loads(out[-1])["metrics"]
                .items()}
    return {line.split()[1][len("e2e."):]: float(line.split()[2])
            for line in out if line.startswith("# e2e.")}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    plain = _run(args.workload, args.seed, 0)
    traced = _run(args.workload, args.seed, 1)
    for name, base in plain.items():
        d = traced[name] - base
        print(f"{name} untraced {base:.6g} traced {traced[name]:.6g} "
              f"overhead {d:+.6g} ({d / base:+.1%})")


if __name__ == "__main__":
    main()
