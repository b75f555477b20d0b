"""Tracing overhead: run one workload untraced and traced at the same seed and
print, per end-to-end metric, the traced minus the untraced value.

    python3 perfbench/overhead.py --workload stream_live --seed 1 --seconds 15
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def report(args, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    line = next(x for x in reversed(proc.stdout.splitlines()) if x.startswith("report: "))
    return json.loads(line.removeprefix("report: "))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    plain, traced = report(args, 0), report(args, 1)["traced_end_to_end"]
    print(json.dumps({k: {"untraced": plain[k], "traced": v, "overhead": v - plain[k]}
                      for k, v in traced.items()}, indent=2))


if __name__ == "__main__":
    main()
