"""Tracing overhead: end-to-end metrics of untraced and traced runs.

Usage (from the repository root):

    python3 perfbench/overhead.py --workload catalog_sf0.1 --runs 3 --seconds 26

Runs ``perfbench/run.py`` ``--runs`` times untraced and ``--runs`` times
traced, alternating, with seeds 1..runs on both sides, and prints one JSON
object: per end-to-end metric, the median untraced value, the median traced
value (from the traced run's record line) and their difference.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True, timeout=600,
    ).stdout.splitlines()
    if trace:
        return json.loads(out[-2])["detail"]["end_to_end_traced"]
    return {k: v["value"] for k, v in json.loads(out[-1])["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seconds", type=float, default=26)
    args = ap.parse_args()
    sides: dict[int, list[dict]] = {0: [], 1: []}
    for i in range(args.runs):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            sides[trace].append(_run(args.workload, i + 1, args.seconds, trace))
    report = {}
    for k in sides[0][0]:
        plain = statistics.median(r[k] for r in sides[0])
        traced = statistics.median(r[k] for r in sides[1])
        report[k] = {"untraced": plain, "traced": traced, "overhead": traced - plain}
    print(json.dumps({"workload": args.workload, "runs": args.runs, "metrics": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
