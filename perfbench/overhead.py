"""Tracing overhead per end-to-end metric.

    python3 perfbench/overhead.py --workload <name> [--seeds 1,2,3] [--seconds 15]

For each seed, runs the benchmark untraced and traced (alternating which
goes first), then prints, per end-to-end metric, the median of the traced
value (`trace.<metric>` in the traced run) minus the untraced one, and
that difference as a share of the untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def one_run(workload: str, seed: int, seconds: str, trace: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", seconds, "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()[-1]
    metrics = json.loads(out)["metrics"]
    prefix = "trace." if trace else ""
    return {k[len(prefix):]: v["value"] for k, v in metrics.items() if k.startswith(prefix)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", default="15")
    args = ap.parse_args()
    plain: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            vals = one_run(args.workload, seed, args.seconds, trace)
            for k, v in vals.items():
                (traced if trace else plain).setdefault(k, []).append(v)
    for k in plain:
        base, with_trace = statistics.median(plain[k]), statistics.median(traced[k])
        print(f"{args.workload} {k}: untraced {base:.4f}, traced {with_trace:.4f}, "
              f"overhead {with_trace - base:+.4f} ({(with_trace - base) / base:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
