#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced timings of one workload.

    python3 perfbench/overhead.py --workload grouped_sketches --seeds 1 2 3

Runs the benchmark untraced and traced on each seed, alternating which goes
first, and prints the median of each op's time and of ``job_s`` in both
modes with their difference. Run it from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600).stdout
    for line in out.splitlines():
        if line.startswith("perfbench-detail "):
            return json.loads(line[len("perfbench-detail "):])
    raise RuntimeError(f"no detail line from {workload} seed {seed} trace {trace}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, default=4)
    args = p.parse_args()

    times: dict[tuple[int, str], list[float]] = {}
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            d = run(args.workload, seed, args.seconds, trace)
            if d["failed"]:
                raise RuntimeError(f"seed {seed} trace {trace}: {d['errors']}")
            for s in d["samples"]:
                times.setdefault((trace, s["op"]), []).append(s["s"])
                if "job_s" in s:
                    times.setdefault((trace, "job_s"), []).append(s["job_s"])
    rows = {}
    for name in sorted({k for _, k in times}):
        off = statistics.median(times[(0, name)])
        on = statistics.median(times[(1, name)])
        rows[name] = {"untraced_s": off, "traced_s": on, "overhead_s": on - off,
                      "overhead_frac": (on - off) / off, "n": len(times[(0, name)])}
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "ops": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
