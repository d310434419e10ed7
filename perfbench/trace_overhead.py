"""Tracing overhead: the same seeds run untraced, then traced.

    python3 perfbench/trace_overhead.py --workload curation_microbatch --seeds 1,2,3

For the cold op and the median warm step on the workload's detail
line, prints the median over seeds of traced / untraced.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
FIGURES = {
    "medallion_incremental": ("initial_load_s", "incremental_run_s"),
    "curation_microbatch": ("store_build_s", "batch_p50_s"),
}


def _details(workload: str, seed: int, seconds: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", seconds, "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    line = p.stdout.strip().splitlines()[-2]
    return json.loads(line.split(" ", 2)[2])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(FIGURES))
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()
    ratios: dict[str, list[float]] = {f: [] for f in FIGURES[args.workload]}
    for seed in (int(s) for s in args.seeds.split(",")):
        off = _details(args.workload, seed, args.seconds, 0)
        on = _details(args.workload, seed, args.seconds, 1)
        for f in ratios:
            ratios[f].append(on[f]["value"] / off[f]["value"])
            print(f"seed {seed} {f}: untraced {off[f]['value']:.3f}s "
                  f"traced {on[f]['value']:.3f}s", flush=True)
    for f, r in ratios.items():
        print(f"{args.workload} {f}: traced/untraced median {statistics.median(r):.3f} "
              f"over {len(r)} seeds")


if __name__ == "__main__":
    main()
