#!/usr/bin/env python3
"""Tracing overhead of the benchmark at full size.

    python3 perfbench/overhead.py [--pairs 3] [--seconds 20]

For every workload in BENCHMARK.json it runs ``run.py`` in pairs, untraced and
traced with the same seed, alternating which of the two runs first, and
prints per pair the untraced ``step_p50_s``, the traced ``trace.step_p50_s``
and their difference, then the median difference as a share of the median
untraced step. Every run must pass its output checks.

Pairs of runs, not steps inside one run, because the traced run differs from
the untraced one in the whole process: the span wrappers and their job-group
calls are active in every timed step.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

from smoke import run_benchmark

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--pairs", type=int, default=3)
    parser.add_argument("--seconds", default="20")
    args = parser.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    failed = 0
    for name in workloads:
        plain, traced = [], []
        for pair in range(args.pairs):
            seed = str(100 + pair)
            order = (0, 1) if pair % 2 == 0 else (1, 0)
            got = {}
            for trace in order:
                out = run_benchmark(name, trace, seed, args.seconds, "normal")
                if not out["correct"]:
                    failed += 1
                key = "trace.step_p50_s" if trace else "step_p50_s"
                got[trace] = out["metrics"][key]["value"]
            plain.append(got[0])
            traced.append(got[1])
            print(
                f"{name} seed {seed}: untraced {got[0]:.4f} s, traced {got[1]:.4f} s, "
                f"overhead {got[1] - got[0]:+.4f} s",
                flush=True,
            )
        delta = statistics.median(t - p for p, t in zip(plain, traced))
        base = statistics.median(plain)
        print(f"{name}: median overhead {delta:+.4f} s per step = {delta / base:+.1%} of {base:.4f} s", flush=True)
    if failed:
        print(f"overhead: {failed} run(s) failed their output checks")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
