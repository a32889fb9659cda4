"""Tracing overhead: run one workload untraced and traced on the same seed
and print each end-to-end metric from both runs with the traced/untraced
ratio.

    python3 perfbench/overhead.py --workload index-search --seed 1 --seconds 8

A traced run computes the same end-to-end values as an untraced one (it
prints them on its ``# context`` line); the difference is the cost of the
event log and job tagging.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _context(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    line = next(ln for ln in out.splitlines() if ln.startswith("# context "))
    return json.loads(line[len("# context "):])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args()
    plain = _context(args.workload, args.seed, args.seconds, 0)["e2e"]
    traced = _context(args.workload, args.seed, args.seconds, 1)["e2e"]
    rows = {k: {"untraced": plain[k], "traced": traced.get(k),
                "traced_over_untraced": traced[k] / plain[k] if traced.get(k) and plain[k] else None}
            for k in plain}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
