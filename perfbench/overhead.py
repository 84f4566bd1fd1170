"""Tracing overhead: run one workload untraced and traced with the same seed
and print, per end-to-end metric, the traced value minus the untraced one.

    python3 perfbench/overhead.py --workload trickle --seed 1 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def end_to_end(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    detail = json.loads(proc.stdout.strip().splitlines()[-2])["detail"]
    return detail["end_to_end"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    plain = end_to_end(args.workload, args.seed, args.seconds, 0)
    traced = end_to_end(args.workload, args.seed, args.seconds, 1)
    print(json.dumps({k: {"untraced": plain[k], "traced": traced[k],
                          "overhead": traced[k] - plain[k]} for k in plain}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
